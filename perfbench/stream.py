"""The ``quota_stream`` workload: an open loop feeding the reference's quota
accounting as three concurrent streaming queries over one file source.

A generator thread writes small parquet files into the source directory on
a fixed schedule (write to a hidden name, then rename, so a listing never
sees half a file). Its rows are a seeded resample of the tier's ``events``
table over ``keys`` users, stamped with the time they were created. The
three queries are the engine's ``streaming`` operators:

- ``quota_latch_stream``: Python ``applyInPandasWithState`` latch;
- ``quota_usage_stream``: JVM windowed aggregate with a watermark;
- ``ttl_cache_stream``: Python state with processing-time timeouts.

The queries run on the default trigger: each starts its next micro-batch as
soon as the previous one has committed and new files are listed, so a
file's wait for its batch is set by how long the engine's batches take, not
by a trigger interval the benchmark picks.

Each file's event latency runs from when it was due until the commit of the
first micro-batch whose cumulative input rows cover it, per query. A
listener keeps every ``StreamingQueryProgress`` (``recentProgress`` keeps
only the last 100)."""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from measure import assign_files_to_batches, fold_sql, fold_stages, percentile, rest_time
from probes import stages_of

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
QUERIES = ("latch", "usage", "ttl")
MODULE = {"latch": "state", "usage": "quota", "ttl": "state"}


class Progress:
    """Collects progress events per query id (filled on Spark's listener
    thread, read by the client thread)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.by_id: dict[str, list[dict]] = {}

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = rest_time(p.timestamp.replace("Z", "GMT"))
                rec = {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "start": start,
                    "end": start + p.durationMs.get("triggerExecution", 0) / 1e3,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
                with outer.lock:
                    outer.by_id.setdefault(str(p.id), []).append(rec)

            def onQueryTerminated(self, event):
                pass

        return _L()

    def batches(self, qid: str) -> list[dict]:
        with self.lock:
            return sorted(self.by_id.get(qid, []), key=lambda b: b["batch"])

    def consumed(self, qid: str) -> int:
        return sum(b["rows"] for b in self.batches(qid))


class Generator:
    """Writes files on a fixed schedule; each holds the events created in
    the file interval before it was due."""

    def __init__(self, src: str, pool: pa.Table, seed: int, keys: int, rows: int, interval: float):
        self.src, self.pool, self.keys = src, pool, keys
        self.rows, self.interval = rows, interval
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.files: list[dict] = []  # {"due", "written", "rows"}
        self.next_id = 0

    def _table(self, start: float) -> pa.Table:
        n = self.rows
        idx = self.rng.integers(0, self.pool.num_rows, n)
        ts_us = (start * 1e6 + np.arange(n) * (self.interval * 1e6 / n)).astype(np.int64)
        out = pa.table({
            "event_id": np.arange(self.next_id, self.next_id + n, dtype=np.int64),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "user_id": self.rng.integers(0, self.keys, n, dtype=np.int64),
            "event_type": self.pool.column("event_type").take(idx),
            "value": self.pool.column("value").take(idx),
            "props": self.pool.column("props").take(idx),
        })
        self.next_id += n
        return out

    def write(self, due: float) -> None:
        table = self._table(due - self.interval)
        i = len(self.files)
        tmp = os.path.join(self.src, f".part-{i:06d}.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.src, f"part-{i:06d}.parquet"))
        self.files.append({"due": due, "written": time.time(), "rows": table.num_rows})

    def run_schedule(self, t0: float, n_files: int) -> None:
        """Write ``n_files`` files, file ``i`` due at ``t0 + i * interval``."""
        for i in range(n_files):
            due = t0 + i * self.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.write(due)


def _start_queries(spark, src: str, ckpt: str) -> dict:
    from pyspark.sql import functions as F

    from youtube_api_batch_process_with_analytics_spark.streaming.quota import quota_usage_stream
    from youtube_api_batch_process_with_analytics_spark.streaming.state import (
        quota_latch_stream,
        ttl_cache_stream,
    )

    def source():
        return spark.readStream.schema(SCHEMA).parquet(src)

    frames = {
        "latch": lambda: quota_latch_stream(source()),
        "usage": lambda: quota_usage_stream(source()),
        "ttl": lambda: ttl_cache_stream(
            source().select(F.col("user_id").cast("string").alias("cache_key"), "value")
        ),
    }
    out = {}
    for q, build in frames.items():
        t0 = time.perf_counter()
        df = build()
        build_s = time.perf_counter() - t0
        out[q] = {
            "build_s": build_s,
            "query": df.writeStream.format("memory").queryName(f"bench_{q}")
            .outputMode("update").option("checkpointLocation", os.path.join(ckpt, q))
            .start(),
        }
    return out


def _wait(pred, bound_s: float, poll: float = 0.05) -> bool:
    deadline = time.time() + bound_s
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(poll)
    return pred()


def check_outputs(ctx, spark, src: str, quota: int) -> list[dict]:
    """Final per-key latch totals, per-window usage counts and cache hit
    counts against DuckDB over the generated files."""
    import duckdb

    files = os.path.join(src, "*.parquet")
    err = "CAST(event_type = 'error' AS BIGINT)"
    duck = {
        "latch": f"SELECT user_id, COUNT(*), SUM({err}), COUNT(*) >= {quota} "
                 f"FROM read_parquet('{files}') GROUP BY 1",
        "usage": f"SELECT user_id, epoch_us(ts) // 3600000000, COUNT(*), SUM({err}) "
                 f"FROM read_parquet('{files}') GROUP BY 1, 2",
        "ttl": f"SELECT CAST(user_id AS VARCHAR), COUNT(*) FROM read_parquet('{files}') GROUP BY 1",
    }
    spark_sql = {
        "latch": "SELECT key_id, MAX(total_requests), MAX(total_failures), "
                 "BOOL_OR(is_exhausted) FROM bench_latch GROUP BY 1",
        "usage": "SELECT key_id, unix_micros(window_start) DIV 3600000000, MAX(requests), "
                 "MAX(failures) FROM bench_usage GROUP BY 1, 2",
        "ttl": "SELECT cache_key, MAX(hits) FROM bench_ttl WHERE NOT evicted GROUP BY 1",
    }
    out = []
    spark.sparkContext.setJobGroup("check", "check")
    with ctx.tracer.span("check"), duckdb.connect() as con:
        for q in QUERIES:
            try:
                want = sorted(tuple(int(v) for v in r) for r in con.execute(duck[q]).fetchall())
                got = sorted(tuple(int(v) for v in r) for r in spark.sql(spark_sql[q]).collect())
                reason = None if got == want else (
                    f"{len(got)} rows vs {len(want)} expected, "
                    f"{len(set(got) ^ set(want))} differ"
                )
            except Exception as e:
                reason = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            out.append({"query": q, "ok": reason is None, "reason": reason})
    return out


def _python_warm(spark) -> None:
    para = spark.sparkContext.defaultParallelism
    spark.range(0, para, 1, para).mapInPandas(lambda it: it, "id long") \
        .write.mode("overwrite").format("noop").save()


def run(ctx) -> dict:
    from youtube_api_batch_process_with_analytics_spark.streaming.state import DAILY_QUOTA

    cfg = ctx.cfg
    interval = cfg["file_interval_s"]
    rows = int(round(cfg["rate_events_per_s"] * interval))
    spark, setup = ctx.setup(_python_warm)
    layers = {"session.start_s": setup["start_s"], "session.warmup_s": setup["warmup_s"]}

    base = os.path.join(ctx.run_dir, "stream")
    shutil.rmtree(base, ignore_errors=True)
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    os.makedirs(src)
    pool = pq.read_table(os.path.join(ctx.tier_dir, "events.parquet"),
                         columns=["event_type", "value", "props"])
    gen = Generator(src, pool, ctx.seed, cfg["keys"], rows, interval)
    progress = Progress()
    listener = progress.listener()
    spark.streams.addListener(listener)
    with ctx.tracer.span("stream") as stream_rec:
        # first pass: one file already there when the queries start, so each
        # commits it in its first (cold) batch
        gen.write(time.time())
        t_start = time.time()
        queries = _start_queries(spark, src, ckpt)
        ids = {q: str(v["query"].id) for q, v in queries.items()}
        first_ok = _wait(lambda: all(progress.consumed(i) >= rows for i in ids.values()),
                         cfg["drain_bound_s"])
        first_pass_s = max(
            (progress.batches(i)[0]["end"] for i in ids.values() if progress.batches(i)),
            default=time.time(),
        ) - t_start

        n_files = max(1, int(round(ctx.seconds / interval)))
        thread = threading.Thread(target=gen.run_schedule,
                                  args=(time.time() + interval, n_files), name="generator")
        thread.start()
        thread.join()
        total = sum(f["rows"] for f in gen.files)
        _wait(lambda: all(progress.consumed(i) >= total for i in ids.values()),
              cfg["drain_bound_s"])
        exceptions = {}
        for q, v in queries.items():
            exc = v["query"].exception()
            if exc is not None:
                exceptions[q] = str(exc).splitlines()[0][:300]
            v["query"].stop()
        t_end = time.time()
    spark.streams.removeListener(listener)

    checks = check_outputs(ctx, spark, src, DAILY_QUOTA)

    file_rows = [f["rows"] for f in gen.files]
    timed = range(1, len(gen.files))  # file 0 is the cold first pass
    lat, missed = [], 0
    per_query = {}
    for q, qid in ids.items():
        batches = progress.batches(qid)
        assigned = assign_files_to_batches(file_rows, [b["rows"] for b in batches])
        mine = []
        for i in timed:
            b = assigned[i]
            if b is None:
                missed += 1
            else:
                mine.append(batches[b]["end"] - gen.files[i]["due"])
        lat.extend(mine)
        per_query[q] = {
            "p50_s": percentile(mine, 0.5)["value"],
            "build_s": queries[q]["build_s"],
            "batches": [
                {k: b[k] for k in ("batch", "rows", "start", "end")} for b in batches
            ],
        }
    p50, p90 = percentile(lat, 0.5), percentile(lat, 0.9)
    e2e = {
        "setup_s": {"value": setup["setup_s"], "unit": "s", "n": 1},
        "first_pass_s": {"value": first_pass_s, "unit": "s", "n": 1},
        "event_latency_p50_s": {"value": p50["value"], "unit": "s", "n": p50["n"]},
        "event_latency_p90_s": {
            "value": p90["value"], "unit": "s", "n": p90["n"],
            "beyond": p90["beyond"], "supported": p90["supported"],
        },
    }
    lag = max(f["written"] - f["due"] for f in gen.files)
    if ctx.trace:
        layers.update(_layers(ctx, progress, ids, queries, lag, stream_rec, (t_start, t_end)))
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": len(gen.files) * len(ids) + len(checks),
        "failed": missed + (0 if first_ok else 1) + sum(1 for c in checks if not c["ok"]),
        "checks": checks,
        "errors": [{"query": q, "error": e} for q, e in exceptions.items()],
        "setup": setup,
        "per_query": per_query,
        "files": gen.files,
        "rows": total,
        "rate_events_per_s": cfg["rate_events_per_s"],
        "generator_lag_max_s": lag,
    }


def _layers(ctx, progress, ids, queries, lag, stream_rec, window) -> dict:
    all_batches = []
    for q, qid in ids.items():
        for b in progress.batches(qid):
            all_batches.append((q, b))
            ctx.tracer.add("micro_batch", b["start"], b["end"], stream_rec["id"],
                           query=q, batch=b["batch"], rows=b["rows"])
    data = [b for _, b in all_batches if b["rows"] > 0]
    n = max(1, len(all_batches))

    def mean_ms(*keys):
        return sum(sum(b["ms"].get(k, 0) for k in keys) for _, b in all_batches) / n / 1e3

    last = {q: progress.batches(qid)[-1] for q, qid in ids.items() if progress.batches(qid)}
    out = {
        "stream.batches": len(data),
        "stream.nodata_batches": len(all_batches) - len(data),
        "stream.batch_s": mean_ms("triggerExecution"),
        "stream.add_batch_s": mean_ms("addBatch"),
        "stream.plan_s": mean_ms("queryPlanning"),
        "stream.commit_s": mean_ms("walCommit", "commitOffsets"),
        "stream.state_rows": sum(b["state_rows"] for b in last.values()),
        "stream.state_mb": sum(b["state_bytes"] for b in last.values()) / (1024 * 1024),
        "stream.generator_lag_s": lag,
    }
    snap = ctx.rest_snapshot()
    w0, w1 = window
    jobs = [j for j, job in snap["jobs"].items()
            if w0 <= (rest_time(job.get("submissionTime")) or 0) <= w1]
    ex = fold_stages(stages_of(snap, jobs), window, ctx.slots)
    ex["jobs"] = len(jobs)
    sql = [e for e in snap["sql"] if w0 <= (rest_time(e.get("submissionTime")) or 0) <= w1]
    kern = fold_sql(sql)
    for k, v in ex.items():
        peak = k in ("peak_exec_mem_mb", "peak_concurrent_tasks")
        ratio = k in ("slot_busy_ratio",)
        out["exec." + k] = v if (peak or ratio) else v / n
    for k, v in kern.items():
        out["kernel." + k] = v / n
    for mod in sorted(set(MODULE.values())):
        qs = [q for q in ids if MODULE[q] == mod]
        out[f"{mod}.build_s"] = sum(queries[q]["build_s"] for q in qs)
        durs = [b["ms"].get("triggerExecution", 0) / 1e3 for q, b in all_batches if q in qs and b["rows"] > 0]
        out[f"{mod}.exec_s"] = sum(durs) / len(durs) if durs else 0.0
    return out
