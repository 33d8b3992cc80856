"""perfbench: the repository's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload search|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  Generates the workload's inputs from
the seed, starts a ``local[nproc]`` session through the package's own
``get_spark``, builds the workload's durable state, runs a short untimed
warm-up pass that sends every request kind, then runs passes of the
fixed request sequence from one client in a closed loop until
``--seconds`` have elapsed.  Every pass's outputs are checked.  The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
BENCHMARK.json.  The exit code is 0 only when every check passed.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SPAN_MEASURES = ("self_s", "driver_s", "jobs", "jvm_cpu_s", "python_cpu_s")
BUILD_REPEATS = 3  # set-up builds per run; setup_s counts their median


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 21, where
    that percentile would fall below the median."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0, n
    idx = n - 11
    return xs[idx], 100.0 * (idx + 1) / n, n


def env_info(workload: str, seed: int, load_before) -> dict:
    import pyspark

    def cmd(args: list[str]) -> str:
        try:
            r = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=10)
        except (OSError, subprocess.SubprocessError):
            return ""
        return (r.stdout + r.stderr).strip() if r.returncode == 0 else ""

    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "git_sha": cmd(["git", "rev-parse", "HEAD"]) or "unknown (not a git checkout)",
        "pyspark": pyspark.__version__,
        "java": (cmd(["java", "-version"]).splitlines() or ["unknown"])[0],
        "python": platform.python_version(),
    }


def configure_env(run_root: str) -> None:
    """Pin cores, keep every temp file under ``run_root`` and put the
    package on the Python workers' path.  Must run before the JVM starts."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = str(os.cpu_count())
    os.environ["SPARK_GRAFT_CPUS"] = nproc
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"')
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until both have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        import spans as TR

        deadline = time.time() + 20
        while TR.descendants() and time.time() < deadline:
            time.sleep(0.1)
        for pid, _, _ in TR.descendants():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "wpvectordb_spark", "__init__.py")):
        print(f"perfbench: no wpvectordb_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    load_before = os.getloadavg()
    run_root = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    configure_env(run_root)
    spark = None
    try:
        import spans as TR
        from wpvectordb_spark.session import get_spark

        spark = get_spark("perfbench")
        tracer = TR.Tracer(spark, enabled=False)
        w = W.WORKLOADS[args.workload](spark, os.path.join(run_root, "data"), args.seed, tracer)
        w.generate()
        builds = []
        tracer.enabled = bool(args.trace)
        for k in range(BUILD_REPEATS):
            tracer.pass_no = f"build{k}"
            t = time.perf_counter()
            w.build()
            builds.append(time.perf_counter() - t)
        tracer.enabled = False
        by_time = sorted(range(BUILD_REPEATS), key=builds.__getitem__)
        median_build = f"build{by_time[BUILD_REPEATS // 2]}"
        w.prepare()
        warm = w.run_pass(warm=True)
        setup_s = (time.perf_counter() - T_START) - sum(builds) + statistics.median(builds)

        passes, traced, failed, attempted = [], [], 0, 0
        probes: dict[str, float] = {}
        t0 = time.perf_counter()
        i = 0
        while True:
            done = time.perf_counter() - t0 >= args.seconds
            if args.trace:
                done = done and passes and traced
            if done:
                break
            trace_this = bool(args.trace) and i % 2 == 1
            tracer.enabled = trace_this
            tracer.pass_no = i
            try:
                p = w.run_pass()
                if trace_this:
                    tracer.probe = True
                    probes.update(w.probe())
                    tracer.probe = False
            except Exception:
                traceback.print_exc()
                failed += 1
                attempted += 1
                break
            finally:
                tracer.enabled = False
            p["pass"] = i
            (traced if trace_this else passes).append(p)
            failed += p["failed"]
            attempted += p["attempted"] + p["checks"]
            i += 1

        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        info = env_info(args.workload, args.seed, load_before)
        info.update(input_hash=w.h.hexdigest(), input_bytes=w.h.bytes, planted=w.planted,
                    build_s=builds, warmup_wall_s=warm["wall_s"],
                    pass_wall_s=[p["wall_s"] for p in passes],
                    traced_pass_wall_s=[p["wall_s"] for p in traced],
                    latencies_s=[x for p in passes for x in p["latencies"]])
        if w.name == "search":
            info.update(recall_ivf=[p["recall_ivf"] for p in passes + traced],
                        recall_ivfpq=[p["recall_ivfpq"] for p in passes + traced])
        if passes:
            report = end_to_end(w, passes, setup_s, TR.peak_rss_mb())
        else:
            report = {}
        for name, (val, unit) in report.items():
            print(f"{args.workload} {name} = {val:.6g} {unit}")
        print("detail " + json.dumps(info, default=str))
        metrics = {}
        if args.trace and passes and traced:
            layer = per_layer(w, tracer, traced, passes, probes, median_build)
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            for name, v in metrics.items():
                print(f"{args.workload} {name} = {v['value']:.6g} {v['unit']}")
        elif not args.trace and passes:
            metrics = {m["name"]: {"value": float(report[m["name"]][0]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        result["metrics"] = metrics
        print(json.dumps(result))
        return 0 if result["correct"] and metrics else 1
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_root, ignore_errors=True)
        print(f"perfbench: teardown {time.perf_counter() - t_stop:.2f}s, total "
              f"{time.perf_counter() - T_START:.2f}s", file=sys.stderr)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass


def end_to_end(w, passes: list[dict], setup_s: float, rss_mb: float) -> dict:
    """Every end-to-end figure of the untraced passes, as (value, unit)."""
    med = statistics.median
    lat = [x for p in passes for x in p["latencies"]]
    tail_v, tail_pct, tail_n = tail(lat)
    r = {
        "setup_s": (setup_s, "s"),
        "wall_s": (med(p["wall_s"] for p in passes), "s"),
        "latency_p50_s": (med(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "latency_tail_percentile": (tail_pct, "%"),
        "latency_samples": (tail_n, "count"),
        "peak_rss_mb": (rss_mb, "MB"),
        "stored_bytes_per_input_byte": (med(p["stored_bytes"] for p in passes) / w.h.bytes, "ratio"),
        "error_rate": (sum(p["failed"] for p in passes)
                       / sum(p["attempted"] + p["checks"] for p in passes), "fraction"),
    }
    if w.name == "search":
        r["throughput_per_s"] = (med(p["units"] / p["batch_s"] for p in passes), "1/s")
        r["queries_per_s"] = r["throughput_per_s"]
        r["query_latency_p50_s"] = r["latency_p50_s"]
        r["query_latency_tail_s"] = r["latency_tail_s"]
        r["recall_at_10"] = (med((p["recall_ivf"] + p["recall_ivfpq"]) / 2 for p in passes), "fraction")
    else:
        slat = [x for p in passes for x in p["search_latencies"]]
        r["throughput_per_s"] = (med(p["docs_per_s"] for p in passes), "1/s")
        r["docs_per_s"] = (r["throughput_per_s"][0], "docs/s")
        r["rows_per_s"] = (med(p["rows_per_s"] for p in passes), "rows/s")
        r["commit_latency_p50_s"] = r["latency_p50_s"]
        r["commit_latency_tail_s"] = r["latency_tail_s"]
        r["query_latency_p50_s"] = (med(slat), "s")
        r["query_latency_tail_s"] = (tail(slat)[0], "s")
        r["microbatch_latency_p50_s"] = (med(x for p in passes for x in p["microbatch_s"]), "s")
        r["stream_docs_per_s"] = (med(p["stream_docs_per_s"] for p in passes), "docs/s")
        r["drop_docs_per_s"] = (med(p["drop_docs_per_s"] for p in passes), "docs/s")
    return r


def per_layer(w, tracer, traced: list[dict], passes: list[dict], probes: dict,
              median_build: str) -> dict[str, float]:
    """Per-layer figures: pass spans per traced pass, set-up build spans
    from the median build."""
    tracer.harvest()
    nums = [p["pass"] for p in traced]
    spans = tracer.per_pass(nums)
    spans.update(tracer.per_pass([median_build]))
    out: dict[str, float] = {}
    for name, agg in spans.items():
        for m in SPAN_MEASURES:
            out[f"{name}.{m}"] = agg[m]
    totals = tracer.per_pass(nums, include_probes=False)
    out["spark.shuffle_write_bytes"] = sum(a["shuffle_write_bytes"] for a in totals.values())
    out["spark.gc_s"] = sum(a["gc_s"] for a in totals.values())
    if w.name == "search":
        ivf = spans.get("similarity.ivf_topk_many")
        if ivf:
            out["similarity.ivf_topk_many.scan_fraction"] = ivf["input_records"] / (w.POSTS * w.CHUNKS)
        out["similarity.ivf_topk_many.recall_at_10"] = statistics.median(p["recall_ivf"] for p in traced)
        out["similarity.ivfpq_topk_many.recall_at_10"] = statistics.median(p["recall_ivfpq"] for p in traced)
    else:
        ins = spans.get("table.insert_all")
        if ins:
            new_bytes = w.BATCH_POSTS * w.CHUNKS * w.DIM * 4
            out["table.insert_all.rewrite_bytes_per_new_byte"] = ins["output_bytes"] / new_bytes
        out["streams.stream_dedup_ingest.microbatch_p50_s"] = statistics.median(
            x for p in traced for x in p["microbatch_s"])
    out.update(probes)
    walls = [p["wall_s"] for p in traced]
    out["trace.overhead_s"] = statistics.median(walls) - statistics.median(p["wall_s"] for p in passes)
    return out


if __name__ == "__main__":
    sys.exit(main())
