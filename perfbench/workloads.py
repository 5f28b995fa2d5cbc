"""The benchmark's workloads: inputs, units of work, passes and checks.

A unit of work is a catalog entry (built through ``plans.catalog.QUERIES``
and timed with a digest action over every output column) or a
streaming drain (a query over parquet files, one file per micro-batch,
timed from construction until every file is processed and the query
stopped).  Units run one at a time.

Layer -> end-to-end map: which per-layer metric should move which
end-to-end metric, and on which workload.  Wall-time figures move with
it in ``timed.wall_s`` and ``timed.latency_geomean_ms`` (no bound).

========================================  ===================  ==========
layer metric                              should move          on
========================================  ===================  ==========
catalog.build_s, catalog.build_jobs       cpu_s                llm_data
action.s, action.jobs                     cpu_s                both
spark.jobs/stages/tasks/scheduler_delay   cpu_s                reports
spark.executor_cpu_ms/core_busy_frac/     cpu_s                llm_data
gc_ms/shuffle_write_bytes/spill_bytes
spark.ungrouped_jobs, unmatched_jobs      attribution only     both
sources.load_table_*                      cpu_s                reports
ops.<module>.s, ops.<module>.calls        cpu_s                its users
lifecycle.persisted_after, release_s      driver_mem_mb        llm_data
stream.<drain>.*                          cpu_s                reports
sinks.*                                   cpu_s                reports
session.start_s, session.warm_s           setup_s              both
========================================  ===================  ==========
"""

from __future__ import annotations

import contextlib
import gc
import importlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback

import gen
import tracing

PKG = "forest_open_data_pipelines_spark"

# Scale of the generated tables and the seed of their contents.  The
# contents are fixed so that the goldens hold for every run seed.
SF = 0.01
DATA_SEED = 20240101

# drain -> (source table, streaming module, output mode); the year
# cache (mode None) writes year partitions through ``sinks.writers``.
DRAINS = {
    "priority_sample_stream": ("documents", "priority_sample", "update"),
    "stream_to_incremental_year_cache": ("orders", "windowed", None),
}
# Column each streamed table is ordered by before it is cut into files.
STREAM_ORDER = {"documents": "doc_id", "orders": "o_orderdate"}
STREAM_FILES = 2
WARM_ROWS = 600

WORKLOADS = {
    # Why: the report engine (monthly and rolling series), TPC-H style
    # relational entries, freshness and events entries, plus the
    # engine's ingest path: the per-year payload cache refresh through
    # the sinks and the stateful corpus sampler over the documents feed.
    # Entries are short and run a handful of Spark jobs; micro-batches
    # pay fixed state-store and commit costs.  Job count and fixed
    # per-job overhead show here; heavy kernels barely run.
    "reports": [
        "q1_pricing_summary",
        "monthly_by_region",
        "rolling_12m",
        "freshness_cadence",
        "events_sessionize",
        "stream_to_incremental_year_cache",
        "priority_sample_stream",
    ],
    # Why: dedup, entity-resolution and media operators, CPU- and
    # shuffle-bound, with an iterative closure and eager construction
    # (jobs run while the frame is built).  Kernel and lifecycle changes
    # show here, much less on reports.
    "llm_data": [
        "entity_clusters",
        "dedup_embedding_lsh",
        "media_ahash_dedup",
        "dedup_exact",
    ],
}

# Fewest timed passes per run.  After the untimed cold pass, the first
# timed pass still runs a fifth to a half slower (the JIT is still
# compiling), and a pass on the shared host now and then runs a third
# slower; a unit's median over three passes drops one of either.
MIN_PASSES = 3

# Row count and digest of each catalog entry; ``Run.record_goldens``
# writes it.
GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command, fields after it) of a /proc stat file; None once the
    process or thread has exited."""
    try:
        with open(path) as fh:
            head, tail = fh.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it (the driver JVM, the Python workers, and the workers they have
    reaped), less the JVM's JIT compiler threads.  Time the host stole
    from the guest is not in it.  The compiler threads are left out
    because the JIT was still compiling through the timed passes, more
    or less of it by the time a unit ran depending on the host's load."""
    procs = {}
    for entry in os.scandir("/proc"):
        st = _stat(os.path.join(entry.path, "stat")) if entry.name.isdigit() else None
        if st:
            # After the command: state, ppid, ..., utime, stime, cutime
            # and cstime (fields 14 to 17 of proc(5)).
            procs[int(entry.name)] = (int(st[1][1]), sum(map(int, st[1][11:15])))
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid not in procs:
            continue
        ticks += procs[pid][1]
        todo += [c for c, (ppid, _) in procs.items() if ppid == pid]
        for task in os.scandir(f"/proc/{pid}/task"):
            st = _stat(os.path.join(task.path, "stat"))
            if st and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                ticks -= sum(map(int, st[1][11:13]))
    return ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, run_dir: str, seed: int, seconds: float, cores: int):
        self.units = WORKLOADS[workload]
        self.run_dir, self.seed, self.seconds, self.cores = run_dir, seed, seconds, cores
        self.data = os.path.join(run_dir, "data")
        self.rng = random.Random(seed)
        self.spark = None
        self.tracer = None
        self.n_queries = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_walls: list[float] = []
        # unit -> its latency, and the CPU time it took, in each timed pass
        self.unit_ms: dict[str, list[float]] = {u: [] for u in self.units}
        self.unit_cpu_s: dict[str, list[float]] = {u: [] for u in self.units}
        self.per_item: list[dict] = []
        self.traced_wall = 0.0
        self.goldens = {}
        if os.path.exists(GOLDENS):
            with open(GOLDENS) as fh:
                self.goldens = json.load(fh)["entries"]

    # -- set-up ----------------------------------------------------------

    def generate(self) -> None:
        """Write the source tables, then cut each streamed table into
        files at seeded points (and a one-file warm-up feed)."""
        self.tables = gen.write_tables(self.data, SF, DATA_SEED)
        self.sizes = {}
        for table in {DRAINS[u][0] for u in self.units if u in DRAINS}:
            col = STREAM_ORDER[table]
            ordered = self.tables[table].sort_by(col)
            self.sizes[table] = gen.split_stream(
                ordered, col, self._feed(table, "timed"), STREAM_FILES, self.seed
            )
            gen.split_stream(
                ordered.slice(0, WARM_ROWS), col, self._feed(table, "warm"), 1, self.seed
            )

    def _feed(self, table: str, kind: str) -> str:
        return os.path.join(self.run_dir, "feeds", kind, table)

    def start_session(self):
        from forest_open_data_pipelines_spark.operators.dedup import release_persisted
        from forest_open_data_pipelines_spark.operators.similarity import (
            clear_centroid_cache,
        )
        from forest_open_data_pipelines_spark.plans import catalog
        from forest_open_data_pipelines_spark.session import get_spark
        from forest_open_data_pipelines_spark.sources.tables import clear_table_cache

        # Bound here, before tracing wraps the public functions.
        self.catalog = catalog
        self.release_persisted = release_persisted
        self.clear_memos = lambda: (clear_table_cache(self.spark), clear_centroid_cache())
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm(self) -> None:
        self.run_pass(record=False, kind="warm")

    # -- passes ----------------------------------------------------------

    def timed(self) -> None:
        """Passes until another would end past ``seconds``; at least
        ``MIN_PASSES``."""
        start = time.perf_counter()
        while len(self.pass_walls) < MIN_PASSES or (
            time.perf_counter() - start + self.pass_walls[-1] <= self.seconds
        ):
            self.pass_walls.append(self.run_pass(record=True))

    def run_pass(self, record: bool, kind: str = "timed") -> float:
        """All units once, in seeded order, from cold engine memos."""
        order = list(self.units)
        self.rng.shuffle(order)
        self.clear_memos()
        t0 = time.perf_counter()
        items = []
        for name in order:
            if self.tracer:
                self.spark.sparkContext.setJobGroup(name, name)
                with self.tracer.span("unit", name):
                    items.append(self.run_unit(name, kind))
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.spark.sparkContext.setLocalProperty("spark.job.description", None)
            else:
                items.append(self.run_unit(name, kind))
        wall = time.perf_counter() - t0
        for item in items:
            if record:
                self.attempted += 1
                if "error" in item:
                    self.fail(item["name"], item["error"])
                elif item["name"] in DRAINS:
                    self.check_drain(item)
                else:
                    self.check_entry(item)
            shutil.rmtree(item.pop("cache", ""), ignore_errors=True)
        if record and not self.tracer:
            for i in items:
                self.unit_ms[i["name"]].append(i["latency_ms"])
                self.unit_cpu_s[i["name"]].append(i["cpu_s"])
        self.last_items = items
        return wall

    def run_unit(self, name: str, kind: str) -> dict:
        persisted_before = self.persistent_rdds()
        item = {"name": name, "start": time.time()}
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if name in DRAINS:
                self.run_drain(item, kind)
            else:
                self.run_entry(item)
        except Exception as exc:  # counted as failed; the run goes on
            traceback.print_exc()
            item["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        item["latency_ms"] = (time.perf_counter() - t0) * 1000.0
        item["cpu_s"] = tree_cpu_s() - cpu0
        item["end"] = time.time()
        t1 = time.perf_counter()
        self.release_persisted()
        item["release_s"] = time.perf_counter() - t1
        # RDDs this unit left persisted (ids are never reused, so RDDs
        # unpersisted meanwhile by the garbage collector do not offset it).
        item["persisted_after"] = len(self.persistent_rdds() - persisted_before)
        log(
            f"{kind} {name} {item['latency_ms']:.0f} ms, cpu {item['cpu_s']:.2f} s "
            + item.get("error", "")
        )
        return item

    def _span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext({})

    def run_entry(self, item: dict) -> None:
        """Build one catalog entry and digest every output column."""
        from check import digest

        name = item["name"]
        with self._span("catalog", name) as rec:
            df = self.catalog.QUERIES[name](self.spark, self.data)
        with self._span("action", name):
            item["rows"], item["digest"] = digest(df)
        if rec:
            item["build"] = (rec["start"], rec["end"])

    def run_drain(self, item: dict, kind: str) -> None:
        """Drain one streaming query over its feed, one file per
        micro-batch, and stop it."""
        name = item["name"]
        table, modname, mode = DRAINS[name]
        windowed = importlib.import_module(f"{PKG}.streaming.windowed")
        self.n_queries += 1
        tag = f"perfbench_{self.n_queries}"
        ckpt = os.path.join(self.run_dir, "ckpt", tag)
        item["cache"] = os.path.join(self.run_dir, "cache", tag)
        query = None
        with self._stream_partitions():
            try:
                with self._span("stream_build", name):
                    stream = windowed.stream_events_from_parquet(
                        self.spark, self._feed(table, kind), glob="*.parquet"
                    )
                    if mode is None:
                        writer = windowed.stream_to_incremental_year_cache(
                            stream, item["cache"], ckpt, date_col=STREAM_ORDER[table]
                        )
                    else:
                        build = getattr(importlib.import_module(f"{PKG}.streaming.{modname}"), name)
                        writer = (
                            build(stream)
                            .writeStream.format("memory")
                            .queryName(tag)
                            .outputMode(mode)
                            .option("checkpointLocation", ckpt)
                        )
                    query = writer.start()
                with self._span("stream_drain", name):
                    query.processAllAvailable()
            finally:
                if query is not None:
                    query.stop()
                    progress = [json.loads(p.json) for p in query.recentProgress]
                    item["batches"] = [p for p in progress if p.get("numInputRows", 0) > 0]
                if mode is not None:
                    self.spark.catalog.dropTempView(tag)
                shutil.rmtree(ckpt, ignore_errors=True)

    @contextlib.contextmanager
    def _stream_partitions(self):
        """State stores shard by the shuffle partition count: size it to
        the cores for a drain, and restore the batch setting even when
        the drain fails."""
        conf = "spark.sql.shuffle.partitions"
        batch_parts = self.spark.conf.get(conf)
        self.spark.conf.set(conf, str(self.cores))
        try:
            yield
        finally:
            self.spark.conf.set(conf, batch_parts)

    # -- checks ----------------------------------------------------------

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}")

    def check_entry(self, item: dict) -> None:
        name, golden = item["name"], self.goldens.get(item["name"])
        if golden is None:
            self.fail(name, "no golden recorded")
        elif item["rows"] != golden["rows"] or (
            golden["digest"] is not None and item["digest"] != golden["digest"]
        ):
            self.fail(name, f"rows/digest {item['rows']}/{item['digest']} != {golden}")

    def check_drain(self, item: dict) -> None:
        name = item["name"]
        table = DRAINS[name][0]
        batches = item["batches"]
        if len(batches) != STREAM_FILES:
            self.fail(name, f"{len(batches)} micro-batches for {STREAM_FILES} files")
        elif table != "orders":
            drained = sum(p["numInputRows"] for p in batches)
            if drained != sum(self.sizes[table]):
                self.fail(name, f"drained {drained} of {sum(self.sizes[table])} rows")
        else:
            # The year-cache sink reads each micro-batch twice (its
            # distinct years, then the write), so numInputRows counts
            # every row twice; the cache contents are checked instead.
            got, want = self.year_cache(item)
            if got != want:
                self.fail(name, f"year cache rows {got} != {want}")

    def year_cache(self, item: dict) -> tuple[dict, dict]:
        """(rows per year in the cache, rows per year expected).  Each
        micro-batch replaces the year partitions it touches, so year y
        holds the rows of y in the last file that has any, whatever the
        split."""
        import numpy as np
        import pyarrow.dataset as ds

        got: dict[int, int] = {}
        item["cache_files"] = item["cache_bytes"] = 0
        for entry in os.scandir(item["cache"]):
            if entry.name.startswith("year="):
                part = ds.dataset(entry.path, format="parquet")
                got[int(entry.name[5:])] = part.count_rows()
                item["cache_files"] += len(part.files)
                item["cache_bytes"] += sum(os.path.getsize(f) for f in part.files)
        col = STREAM_ORDER["orders"]
        years = gen.years_of(self.tables["orders"].sort_by(col), col)
        want: dict[int, int] = {}
        lo = 0
        for n in self.sizes["orders"]:
            ys, counts = np.unique(years[lo : lo + n], return_counts=True)
            want.update({int(y): int(c) for y, c in zip(ys, counts)})
            lo += n
        return got, want

    def record_goldens(self) -> None:
        """Run every catalog entry of every workload in three seeded
        orders and record its row count and digest; an entry whose
        digest differs between runs gets a row-count check only."""
        entries = sorted({u for units in WORKLOADS.values() for u in units if u not in DRAINS})
        seen: dict[str, set] = {name: set() for name in entries}
        for _ in range(3):
            self.rng.shuffle(entries)
            self.clear_memos()
            for name in entries:
                item = self.run_unit(name, "golden")
                if "error" in item:
                    raise RuntimeError(f"{name}: {item['error']}")
                seen[name].add((item["rows"], item["digest"]))
        out = {}
        for name in sorted(seen):
            rows = {r for r, _ in seen[name]}
            if len(rows) != 1:
                raise RuntimeError(f"{name}: row count varies {rows}")
            digest = next(iter(seen[name]))[1] if len(seen[name]) == 1 else None
            out[name] = {"rows": rows.pop(), "digest": digest}
        with open(GOLDENS, "w") as fh:
            json.dump({"sf": SF, "data_seed": DATA_SEED, "entries": out}, fh, indent=1)
            fh.write("\n")

    # -- tracing ---------------------------------------------------------

    def persistent_rdds(self) -> set[int]:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keys())

    def retained_mb(self) -> tuple[float, float]:
        """(JVM heap live after a full GC, JVM non-heap in use), in MB.
        Frames this process dropped, and the RDDs and broadcasts only
        they held, are freed first: Spark's cleaner frees those after a
        GC, on its own thread, so one GC left a varying share of them
        (the heap read varied by a third between runs of one seed)."""
        gc.collect()
        jvm = self.spark._jvm
        jvm.System.gc()
        time.sleep(1.0)
        jvm.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return (
            mx.getHeapMemoryUsage().getUsed() / 2**20,
            mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        )

    def traced(self) -> dict:
        """One more pass with every layer wrapped and one job group per
        unit; stops the session and returns the per-layer metrics."""
        self.tracer = tracing.Tracer()
        ops = tracing.instrument(self.tracer)
        ms0 = time.time() * 1000
        with self.tracer.span("workload", "pass"):
            self.traced_wall = self.run_pass(record=True)
        ms1 = time.time() * 1000
        heap_mb = self.retained_mb()[0]
        items = self.last_items
        self.stop()
        events = os.path.join(self.run_dir, "events")
        (name,) = os.listdir(events)
        log_ = tracing.read_event_log(os.path.join(events, name))
        m = self.spark_layer(log_, items, (ms0, ms1))
        m.update(self.catalog_layer(log_, items, ops, (ms0, ms1)))
        m.update(self.stream_layer(items))
        m["lifecycle.persisted_after"] = float(sum(i["persisted_after"] for i in items))
        m["lifecycle.retained_heap_mb"] = heap_mb
        m["lifecycle.release_s"] = sum(i["release_s"] for i in items)
        return m

    def spark_layer(self, log_: dict, items: list[dict], span_ms) -> dict:
        """``spark.*`` totals of the traced pass; per-unit fields go into
        ``self.per_item``."""
        windows = [(i["name"], i["start"] * 1000, i["end"] * 1000) for i in items]
        tot, per = tracing.spark_metrics(log_, windows, span_ms, self.cores)
        for i in items:
            i.update({f"spark.{k}": v for k, v in per.get(i["name"], {}).items()})
            self.per_item.append(i)
        attributed = sum(e.get("jobs", 0) for e in per.values())
        if attributed + tot.get("unmatched_jobs", 0) != tot.get("jobs", 0):
            self.fail("trace", "job attribution does not add up")
        keys = {
            "jobs": "jobs",
            "stages": "stages",
            "tasks": "tasks",
            "scheduler_delay_ms": "delay_ms",
            "executor_cpu_ms": "cpu_ms",
            "core_busy_frac": "core_busy_frac",
            "gc_ms": "gc_ms",
            "shuffle_write_bytes": "shuffle_write",
            "spill_bytes": "spill",
            "ungrouped_jobs": "ungrouped_jobs",
            "unmatched_jobs": "unmatched_jobs",
        }
        return {f"spark.{k}": float(tot.get(v, 0.0)) for k, v in keys.items()}

    def catalog_layer(self, log_: dict, items: list[dict], ops: list[str], span_ms) -> dict:
        """Build/action split, ``load_table`` and operator self times."""
        builds = [
            (i["name"], i["build"][0] * 1000, i["build"][1] * 1000) for i in items if "build" in i
        ]
        build_jobs = tracing.spark_metrics(log_, builds, span_ms, self.cores)[1]
        m = {"catalog.build_jobs": 0.0, "action.jobs": 0.0}
        for i in items:
            if "build" in i:
                i["build_jobs"] = build_jobs.get(i["name"], {}).get("jobs", 0.0)
                m["catalog.build_jobs"] += i["build_jobs"]
                m["action.jobs"] += i.get("spark.jobs", 0.0) - i["build_jobs"]
        m.update({"catalog.build_s": 0.0, "action.s": 0.0})
        m.update({"sources.load_table_calls": 0.0, "sources.load_table_s": 0.0})
        for o in ops:
            m[f"ops.{o}.s"] = m[f"ops.{o}.calls"] = 0.0
        child = self.tracer.children_s()
        plans = set()
        for s in self.tracer.spans:
            dur = s["end"] - s["start"]
            if s["layer"] == "catalog":
                m["catalog.build_s"] += dur
            elif s["layer"] == "action":
                m["action.s"] += dur
            elif s["layer"] == "sources":
                m["sources.load_table_calls"] += 1
                m["sources.load_table_s"] += dur
                plans.add(s.get("result"))
            elif s["layer"] == "ops":
                mod = s["name"].split(".")[0]
                m[f"ops.{mod}.s"] += max(0.0, dur - child.get(s["id"], 0.0))
                m[f"ops.{mod}.calls"] += 1
        # The memo is cleared before the pass, so each distinct frame
        # handed back was resolved (a memo miss) exactly once.
        m["sources.load_table_new"] = float(len(plans))
        return m

    def stream_layer(self, items: list[dict]) -> dict:
        """Per-drain means over micro-batches of the progress breakdown;
        state size after the last batch; the year-cache sink."""
        m: dict[str, float] = {}
        for i in items:
            b = i.get("batches")
            if not b:
                continue
            key = f"stream.{i['name']}"

            def mean(f) -> float:
                return sum(f(p) for p in b) / len(b)

            def state(p: dict, k: str) -> float:
                return float(sum(s.get(k, 0) for s in p.get("stateOperators", [])))

            for metric, k in (
                ("trigger_ms", "triggerExecution"),
                ("add_batch_ms", "addBatch"),
                ("query_planning_ms", "queryPlanning"),
                ("wal_commit_ms", "walCommit"),
                ("commit_offsets_ms", "commitOffsets"),
            ):
                m[f"{key}.{metric}"] = mean(lambda p: p["durationMs"].get(k, 0))
            m[f"{key}.state_commit_ms"] = mean(lambda p: state(p, "commitTimeMs"))
            m[f"{key}.state_rows"] = state(b[-1], "numRowsTotal")
            m[f"{key}.state_memory_bytes"] = state(b[-1], "memoryUsedBytes")
            if "cache_files" in i:
                feed = self._feed("orders", "timed")
                input_bytes = sum(e.stat().st_size for e in os.scandir(feed))
                m["sinks.files_written"] = float(i["cache_files"])
                m["sinks.bytes_written"] = float(i["cache_bytes"])
                m["sinks.bytes_per_input_byte"] = i["cache_bytes"] / input_bytes
                m["sinks.write_ms"] = 1000.0 * sum(
                    s["end"] - s["start"] for s in self.tracer.spans if s["layer"] == "sinks"
                )
        return m

    def stop(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
