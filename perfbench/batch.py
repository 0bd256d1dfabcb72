"""The ``interactive`` workload: a closed loop with one client over the
reference's analytics queries.

Every request goes through the public surface only: the
``__spark_entry__.queries()`` builder, then a sink that forces execution.
The first (cold) pass collects each query's rows to the client and checks
them against the query's DuckDB twin; the timed requests after it use the
noop sink write. The builder call and the sink each run under their own job
group, so the jobs, stages and SQL executions of each are told apart."""

from __future__ import annotations

import random
import time

from measure import fold_sql, fold_stages, median, percentile
from oracle import compare
from probes import stages_of

# Whole rounds of the steady loop, each query once per round: at least this
# many, so that 27 queries give 108 samples and the 90th percentile has at
# least ten beyond it even when --seconds is shorter than four rounds.
MIN_ROUNDS = 4


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def module_of(builders: dict, names) -> dict:
    """Query name -> file name of the module that defines its builder."""
    out = {}
    for name in names:
        fn = builders[name]
        mod = getattr(fn, "__module__", "") or ""
        if mod == "__spark_entry__":  # plan-cache wrapper: find the original
            for cell in fn.__closure__ or ():
                if callable(cell.cell_contents):
                    mod = cell.cell_contents.__module__
        out[name] = mod.rsplit(".", 1)[-1]
    return out


class Client:
    """One client issuing requests; keeps a record per request."""

    def __init__(self, ctx, spark, builders):
        self.ctx = ctx
        self.spark = spark
        self.sc = spark.sparkContext
        self.builders = builders
        self.records: list[dict] = []
        self._last_df: dict = {}

    def request(self, name: str, phase: str, collect: bool = False) -> dict:
        """Build and run one query; with ``collect`` the sink returns the
        rows to the client (kept in the record as ``columns`` and ``rows``)."""
        group = f"{phase}{len(self.records)}"
        rec = {"name": name, "phase": phase, "group": group, "error": None}
        tracker = self.sc.statusTracker()
        with self.ctx.tracer.span("request", query=name, phase=phase):
            rec["t0"] = time.perf_counter()
            try:
                self.sc.setJobGroup(group + ".b", group + ".b")
                with self.ctx.tracer.span("build", query=name):
                    df = self.builders[name](self.spark, self.ctx.tier_dir)
                rec["w1"], rec["t1"] = time.time(), time.perf_counter()
                self.sc.setJobGroup(group + ".x", group + ".x")
                with self.ctx.tracer.span("exec", query=name):
                    if collect:
                        rec["rows"] = [tuple(r) for r in df.collect()]
                        rec["columns"] = df.columns
                    else:
                        _noop(df)
                rec["hit"] = df is self._last_df.get(name)
                self._last_df[name] = df
            except Exception as e:  # a failed request is counted, not fatal
                rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            rec["w2"], rec["t2"] = time.time(), time.perf_counter()
        rec.setdefault("t1", rec["t2"])
        rec.setdefault("w1", rec["w2"])
        rec["latency_s"] = rec["t2"] - rec["t0"]
        rec["build_s"] = rec["t1"] - rec["t0"]
        rec["exec_s"] = rec["t2"] - rec["t1"]
        rec["build_jobs"] = len(tracker.getJobIdsForGroup(group + ".b"))
        rec["exec_jobs"] = len(tracker.getJobIdsForGroup(group + ".x"))
        self.records.append(rec)
        return rec


def check(ctx, rec: dict, sql: str) -> dict:
    """Compare a successful request's collected rows with the cached DuckDB
    answer."""
    with ctx.tracer.span("check", query=rec["name"]):
        try:
            reason = compare(rec.pop("columns"), rec.pop("rows"), ctx.oracle.expected(sql))
        except Exception as e:
            reason = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    return {"query": rec["name"], "ok": reason is None, "reason": reason}


def fold_requests(snap, recs, slots: int) -> dict:
    """Per-request means of the ``exec.*`` and ``kernel.*`` folds (peaks are
    maxima) over ``recs``."""
    acc: dict[str, list[float]] = {}
    for r in recs:
        group = r["group"] + ".x"
        jobs = [j for j, job in snap["jobs"].items() if job.get("jobGroup") == group]
        ex = fold_stages(stages_of(snap, jobs), (r["w1"], r["w2"]), slots)
        ex["jobs"] = len(jobs)
        kern = fold_sql(e for e in snap["sql"] if e.get("description") == group)
        for k, v in ex.items():
            acc.setdefault("exec." + k, []).append(v)
        for k, v in kern.items():
            acc.setdefault("kernel." + k, []).append(v)
    out = {}
    for k, vs in acc.items():
        peak = k.endswith(("peak_exec_mem_mb", "peak_concurrent_tasks"))
        out[k] = max(vs) if peak else sum(vs) / len(vs)
    return out


def layer_metrics(ctx, recs, measured, modules) -> dict:
    """Build-layer totals over all requests; exec and kernel per-request
    means over the ``measured`` ones; per-module build totals and exec
    means."""
    ok = [r for r in recs if r["error"] is None]
    fits = [r for r in ok if r["build_jobs"] > 0]
    out = {
        "build.plan_s": sum(r["build_s"] for r in ok if r["build_jobs"] == 0),
        "build.fit_s": sum(r["build_s"] for r in fits),
        "build.fit_jobs": sum(r["build_jobs"] for r in fits),
        "build.steady_fit_jobs": sum(r["build_jobs"] for r in measured),
        "build.cache_hit_ratio": (
            sum(1 for r in measured if r.get("hit")) / len(measured) if measured else 0.0
        ),
    }
    snap = ctx.rest_snapshot()
    out.update(fold_requests(snap, [r for r in measured if r["error"] is None], ctx.slots))
    for mod in sorted(set(modules.values())):
        mine = [r for r in ok if modules[r["name"]] == mod]
        timed = [r["exec_s"] for r in measured if modules[r["name"]] == mod and r["error"] is None]
        out[f"{mod}.build_s"] = sum(r["build_s"] for r in mine)
        out[f"{mod}.exec_s"] = sum(timed) / len(timed) if timed else 0.0
    return out


def scan_sources(ctx, spark, tables) -> dict:
    """Noop-forced ``load_table`` scans of the workload's tables (warm)."""
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    spark.sparkContext.setJobGroup("scan", "scan")
    with ctx.tracer.span("scan"):
        t0 = time.perf_counter()
        for t in tables:
            _noop(load_table(spark, ctx.tier_dir, t))
        scan_s = time.perf_counter() - t0
    snap = ctx.rest_snapshot()
    jobs = [j for j, job in snap["jobs"].items() if job.get("jobGroup") == "scan"]
    rows = sum(s.get("inputRecords", 0) for s in stages_of(snap, jobs))
    return {"sources.scan_s": scan_s, "sources.scan_rows": rows}


def run(ctx) -> dict:
    import __spark_entry__ as em
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    cfg = ctx.cfg
    names, tables = cfg["queries"], cfg["tables"]

    def warm(spark):
        for t in tables:
            _noop(load_table(spark, ctx.tier_dir, t))

    spark, setup = ctx.setup(warm)
    layers = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
    }
    if ctx.trace:
        layers.update(scan_sources(ctx, spark, tables))
    builders = em.queries()
    client = Client(ctx, spark, builders)

    sqls = em.oracle_sql()
    checks = []
    with ctx.tracer.span("first_pass"):
        for name in names:
            rec = client.request(name, "first", collect=True)
            if rec["error"] is None:  # a failed request is counted once, below
                checks.append(check(ctx, rec, sqls[name]))
    first_pass_s = sum(r["latency_s"] for r in client.records)
    rng = random.Random(ctx.seed)
    with ctx.tracer.span("steady"):
        t0 = time.perf_counter()
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() - t0 < ctx.seconds:
            order = list(names)
            rng.shuffle(order)
            for name in order:
                client.request(name, "steady")
            rounds += 1
    measured = [r for r in client.records if r["phase"] == "steady"]

    lat = [r["latency_s"] for r in measured if r["error"] is None]
    p50, p90 = percentile(lat, 0.5), percentile(lat, 0.9)
    e2e = {
        "setup_s": {"value": setup["setup_s"], "unit": "s", "n": 1},
        "first_pass_s": {"value": first_pass_s, "unit": "s", "n": 1},
        "latency_p50_s": {"value": p50["value"], "unit": "s", "n": p50["n"]},
        "latency_p90_s": {
            "value": p90["value"], "unit": "s", "n": p90["n"],
            "beyond": p90["beyond"], "supported": p90["supported"],
        },
    }
    if ctx.trace:
        modules = module_of(builders, names)
        layers.update(layer_metrics(ctx, client.records, measured, modules))
    failed_requests = [r for r in client.records if r["error"]]
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": len(client.records) + len(checks),
        "failed": len(failed_requests) + sum(1 for c in checks if not c["ok"]),
        "checks": checks,
        "errors": [{"query": r["name"], "error": r["error"]} for r in failed_requests],
        "requests": [
            {k: r[k] for k in ("name", "phase", "latency_s", "build_s", "exec_s",
                               "build_jobs", "exec_jobs", "hit") if k in r}
            for r in client.records
        ],
        "setup": setup,
        "median_latency_by_query": {
            n: median([r["latency_s"] for r in measured if r["name"] == n and r["error"] is None] or [0.0])
            for n in names
        },
    }
