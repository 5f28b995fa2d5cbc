"""Benchmark of the forest-open-data-pipelines-spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload reports --seed 1 --seconds 20 --trace 0

One process drives ``local[<cores / 2>]`` as a single closed-loop client:
one unit of work (a catalog entry or a streaming drain) runs at a time,
and the next starts when the previous one has completed.

Workloads (units and the reason for each in ``workloads.py``):

- ``reports``: report-engine, relational, freshness and events entries,
  the per-year cache sink and the stateful document sampling drain;
  bound by fixed per-job and per-micro-batch overhead.
- ``llm_data``: dedup, entity-resolution and media operators; CPU-,
  shuffle- and construction-bound.

Inputs: the ten source tables are generated at set-up from a fixed data
seed, so the recorded goldens hold; ``--seed`` picks the unit order of
every pass and where the streamed tables are cut into files.

Flow of a run: generate inputs, start the session, one untimed warm
pass (set-up ends here), then timed passes until another would end
past ``--seconds`` (at least three).  Each pass starts from cold engine
memos (``load_table`` and the trained-index memos are cleared).  An
entry is timed as construction plus a digest action that hashes every
output column (``check.py``); its row count and digest are compared
with ``goldens.json``.  A drain is checked on the rows it read and, for
the year cache, on the cache contents.  A mismatch or an error counts
as failed and the run continues.

End-to-end metrics: ``setup_s``, process start to the end of the warm
pass; ``cpu_s``, the CPU time of a median pass: the sum over units of
each unit's median CPU time over the timed passes (7 units on
``reports``, 4 on ``llm_data``, at least 3 samples each), taken by this
process, the driver JVM and the Python workers, less the JIT compiler
threads (``workloads.tree_cpu_s``); ``driver_mem_mb``, see
``driver_mem_mb`` below.  Per-unit medians keep a pass slowed by the
host from moving the figures.

Wall time is reported, but among the per-layer metrics, where it has no
bound: ``timed.wall_s``, the same sum over per-unit median latencies,
and ``timed.latency_geomean_ms``, their geometric mean, which weighs a
short entry as much as a long drain.  On a shared 4-core host the
middle half of ten runs of the same code spread over 21 to 44% of the
median in wall time, as the host's load rose and fell over minutes, and
over 10 to 17% in CPU time, which leaves out time stolen by the host.
(A median latency over units spread further still: the units are few
and of unlike sizes, and which of two entries reading the same table
pays for the read depends on the order.)

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` also enables
Spark's event log, runs one more pass with every layer's public
functions wrapped (``tracing.py``) and one job group per unit, and
prints the per-layer metrics of that pass, with the ``timed.*`` wall
times of the untraced passes before it; spans and per-unit layer
fields go to ``.perfbench_out/trace-<workload>-<seed>.json``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Metric names and units come from ``BENCHMARK.json``.

``--record-goldens`` re-records ``goldens.json``; run it only on a
commit whose oracle sweep (``tools/check_correctness.py``) passes for
the entries on the generated tables.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "forest_open_data_pipelines_spark")
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402
from workloads import log  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# Half the cores for Spark's task threads: the JIT, the garbage
# collector, the Python workers and this process run beside them, and
# with one task thread per core the same seed read up to a quarter
# slower from run to run (a third as much at half the cores).
CORES = max(1, len(os.sched_getaffinity(0)) // 2)


def _environment(run_dir: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python into
    the run directory and set the session launcher flags; must run
    before the first SparkSession is created."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # pandas deprecation chatter from the Python workers.
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        # Keep the JIT compiler threads alive, so that their CPU time
        # can be left out of ``cpu_s`` (``workloads.tree_cpu_s``).
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
                # zstd, the default codec, has no reader installed here.
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def driver_mem_mb(runner) -> float:
    """Memory the driver holds after the timed passes: JVM heap live
    after a full GC plus JVM non-heap in use, plus this process's peak
    RSS.  (The JVM's RSS high-water mark tracks when G1 chose to grow
    the heap, and varied by a fifth between runs of the same code.)"""
    heap, non_heap = runner.retained_mb()
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    log(f"driver memory: heap {heap:.0f} MB, non-heap {non_heap:.0f} MB, python {rss:.0f} MB")
    return heap + non_heap + rss


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(PKG_DIR) or not os.path.isfile(SPEC):
        log(f"engine package or BENCHMARK.json missing under {ROOT}")
        return 2
    with open(SPEC) as fh:
        spec = json.load(fh)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _environment(run_dir, bool(args.trace))
    runner = None
    try:
        runner = workloads.Run(args.workload, run_dir, args.seed, args.seconds, CORES)
        runner.generate()
        t_session = time.perf_counter()
        runner.start_session()
        start_s = time.perf_counter() - t_session
        t_warm = time.perf_counter()
        runner.warm()
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - T0
        log(f"setup {setup_s:.2f}s (session {start_s:.2f}s, warm {warm_s:.2f}s)")
        if args.record_goldens:
            runner.record_goldens()
            return 0
        runner.timed()
        unit_p50 = [statistics.median(v) for v in runner.unit_ms.values()]
        e2e = {
            "setup_s": setup_s,
            "cpu_s": sum(statistics.median(v) for v in runner.unit_cpu_s.values()),
            "driver_mem_mb": driver_mem_mb(runner),
        }
        timed = {
            "timed.wall_s": sum(unit_p50) / 1000.0,
            "timed.latency_geomean_ms": statistics.geometric_mean(unit_p50),
        }
        log(
            f"{len(runner.pass_walls)} passes {runner.pass_walls}, "
            f"unit medians {[round(v) for v in unit_p50]} ms, {timed}"
        )
        if args.trace:
            layer = runner.traced()
            layer.update(timed)
            layer["session.start_s"] = start_s
            layer["session.warm_s"] = warm_s
            # Against the last untraced pass: the closest in time, so the
            # least skewed by the engine still warming up.
            layer["trace.overhead_frac"] = runner.traced_wall / runner.pass_walls[-1] - 1.0
            os.makedirs(OUT, exist_ok=True)
            runner.tracer.dump(
                os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
                {"per_item": runner.per_item, "end_to_end": e2e, "per_layer": layer},
            )
            wanted, values = spec["per_layer"], layer
        else:
            wanted, values = spec["end_to_end"], e2e
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            log(f"{len(missing)} metrics of layers this workload does not use are 0")
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        }
        for name in runner.failures:
            log(f"FAILED {name}")
        result = {
            "correct": not runner.failures,
            "attempted": runner.attempted,
            "failed": len(runner.failures),
            "metrics": metrics,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if runner is not None:
            runner.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
