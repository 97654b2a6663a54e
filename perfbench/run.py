"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed (untimed), starts one Spark session on local[<cpus>] and sets the
workload up (``setup_s``: session start, a warm-up, input load), then
runs timed units in a closed loop with one client for about
``--seconds``: a unit starts only when the previous one is done and is
expected to end inside the window (at least one unit always runs). Every
unit's output is checked. ``--trace 1`` runs one untraced unit, then the
traced twin of the unit, reports the per-layer metrics from the Spark
event log, and checks that the twin produces the same clusters as the
untraced unit.

The last stdout line is one JSON object:
  {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
A human-readable report (every metric with its unit and sample count,
error_rate, the host context) goes to stderr. Everything the run writes
stays under ``.perfbench_work/`` in the repository root and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _cpus() -> int:
    # what `env -u OMP_NUM_THREADS nproc` prints: the CPUs this process may use
    return len(os.sched_getaffinity(0))


def _session(work: str, cpus: int, trace: bool):
    """The program's session factory on local[cpus], with every scratch
    file (Spark, JVM, Python workers) kept inside ``work``."""
    from genome_deduplication_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, the launcher too; without
    # -XX:-UsePerfData each one writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=2 * cpus, extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _host_speed() -> float | None:
    """The repository's single-core host-speed probe (iters/s), recorded
    as context: runs in a degraded host window show up here."""
    try:
        from bench_scaling import probe_speed
    except ImportError:
        return None
    return round(probe_speed(0.5), 1)


def _e2e(setup_s: float, units: list[dict], n_docs: int) -> dict[str, float]:
    from measure import quantile

    wall = statistics.median(u["wall_s"] for u in units)
    batches = [b for u in units for b in u["batches_s"]]
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": n_docs / wall,
        "batch_p50_s": statistics.median(batches),
        "batch_p90_s": quantile(batches, 0.9),
        "pair_recall": min(u["pair_recall"] for u in units),
        "cluster_purity": min(u["cluster_purity"] for u in units),
    }


def _per_layer(tr, jobs, context: dict) -> dict[str, float]:
    from measure import layer_metrics
    from workloads import LAYERS

    c = tr.counters
    metrics = layer_metrics(tr.spans, jobs, LAYERS)
    metrics.update({
        "lsh.candidates": c.get("lsh.candidates", 0),
        "lsh.buckets_capped": c.get("lsh.buckets_capped", 0),
        "lsh.buckets_dropped": c.get("lsh.buckets_dropped", 0),
        "verify.dup_ratio": c.get("verify.dups", 0) / max(c.get("verify.candidates", 0), 1),
        "suffix_array.pairs_checked": c.get("suffix_array.pairs_checked", 0),
        "suffix_array.hit_ratio": c.get("suffix_array.hits", 0)
        / max(c.get("suffix_array.pairs_checked", 0), 1),
        "checkpoint.write_mb": c.get("checkpoint.write_mb", 0),
        "incremental.state_mb": c.get("incremental.state_mb", 0),
        "incremental.state_files": c.get("incremental.state_files", 0),
        "trace.wall_s": context["trace_wall_s"],
        "trace.overhead_s": context["trace_overhead_s"],
    })
    return metrics


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import measure
    from workloads import WORKLOADS

    cpus = _cpus()
    units: list[dict] = []
    attempted = failed = 0
    metrics: dict[str, float] = {}
    tr = None
    context: dict = {"workload": workload, "seed": seed, "master": f"local[{cpus}]",
                     "shuffle_partitions": 2 * cpus, "hostspeed_pre": _host_speed()}
    with measure.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _session(work, cpus, trace)
        try:
            wl = WORKLOADS[workload](spark, seed, work)
            context["docs_per_unit"] = wl.docs
            wl.setup()
            setup_s = time.perf_counter() - t0

            t_start = time.perf_counter()
            while not units or (
                not trace
                and time.perf_counter() - t_start
                + statistics.median(u["wall_s"] for u in units) <= seconds
            ):
                attempted += 1
                rss.window()
                try:
                    u = wl.unit()
                    u["peak_rss_mb"] = rss.window()
                    res = wl.check(u.pop("out"))
                except Exception:  # a unit that raises counts as failed
                    _log(traceback.format_exc())
                    failed += 1
                    if failed >= 3:
                        break
                    continue
                if res["problems"]:
                    _log(f"unit {attempted} failed its checks: {res['problems']}")
                    failed += 1
                units.append({**u, **res})
            if units:
                metrics = _e2e(setup_s, units, wl.docs)
                # context, not a metric: it swings by a third between runs
                context["peak_rss_mb"] = statistics.median(u["peak_rss_mb"] for u in units)

            if trace and units:
                attempted += 1
                tr = measure.Tracer(spark.sparkContext)
                try:
                    traced = wl.traced_unit(tr)
                    res = wl.check(traced.pop("out"))
                    problems = res["problems"]
                    if res["clusters"] != units[-1]["clusters"]:
                        problems.append("clusters differ from the untraced unit's")
                except Exception:
                    _log(traceback.format_exc())
                    problems, tr = ["raised"], None
                if problems:
                    _log(f"traced unit failed its checks: {problems}")
                    failed += 1
            if tr is not None:
                context["trace_wall_s"] = traced["wall_s"]
                context["trace_overhead_s"] = traced["wall_s"] - units[-1]["wall_s"]
                if "state" in units[-1]:
                    mb, files = measure.dir_stats(units[-1]["state"])
                    tr.add("incremental.state_mb", mb)
                    tr.add("incremental.state_files", files)
        finally:
            _shutdown(spark)
    if tr is not None:
        jobs = measure.read_event_log(os.path.join(work, "eventlog"))
        metrics = _per_layer(tr, jobs, context)
    context["hostspeed_post"] = _host_speed()
    context["error_rate"] = failed / max(attempted, 1)
    return {"correct": failed == 0 and bool(units), "attempted": attempted,
            "failed": failed, "metrics": metrics, "units": units,
            "context": context}


def _report(result: dict, unit_of: dict[str, str]) -> None:
    units, ctx = result["units"], result["context"]
    _log(f"== perfbench {ctx['workload']}: {len(units)} timed unit(s), "
         f"{result['failed']}/{result['attempted']} failed "
         f"(error_rate {ctx['error_rate']:.3f})")
    if units:
        walls = sorted(u["wall_s"] for u in units)
        batches = sorted(b for u in units for b in u["batches_s"])
        _log(f"   unit wall_s  median {statistics.median(walls):.3f} "
             f"max {walls[-1]:.3f} (n={len(walls)}), in run order "
             + " ".join(f"{u['wall_s']:.3f}" for u in units))
        _log(f"   batch_s      median {statistics.median(batches):.3f} "
             f"max {batches[-1]:.3f} (n={len(batches)})")
    for k, v in result["metrics"].items():
        _log(f"   {k:34s} {v:12.6g} {unit_of.get(k, '?')}")
    _log("   context " + json.dumps(ctx))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import genome_deduplication_spark  # noqa: F401  the program under test
        from workloads import WORKLOADS
    except ImportError as e:
        _log(f"perfbench: cannot import the program from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; "
             f"choose from {sorted(WORKLOADS)}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    unit_of = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run still uses it
            pass
    _report(result, unit_of)
    out = {k: result[k] for k in ("correct", "attempted", "failed")}
    out["metrics"] = {k: {"value": v, "unit": unit_of[k]}
                      for k, v in result["metrics"].items() if k in unit_of}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
