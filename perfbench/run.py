"""Benchmark entry point.

    python3 perfbench/run.py --workload kv_serving --seed 1 --seconds 15 --trace 0

Run from the repository root.  Builds the workload's inputs from the
seed, starts one Spark session on ``local[nproc]`` (shuffle partitions
= nproc, AQE on), sets the workload up several times, measures for
``--seconds``, checks every result against its twin, and prints one
JSON object as the last line of standard output.  ``--trace 0`` prints
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` records
spans and Spark job counts and prints the per-layer metrics instead.
Exits 1 when a correctness check fails and 2 when the engine package
is missing.  Everything it writes stays under ``.perfbench_work/``
(removed at exit) and ``perfbench/out/`` (run records and spans).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")
WORKLOADS = ("kv_serving", "batch_pipeline")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _scratch_env(workdir: str) -> tuple[str, str]:
    """Point every scratch byte of Python, DuckDB, the JVM and Spark at
    the run dir; returns (Spark local dir, tmp dir)."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    return local, tmp


def _spark_session(workdir: str, nproc: int, local: str, tmp: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _java_version() -> str:
    try:
        r = subprocess.run(["java", "-version"], capture_output=True,
                           text=True, timeout=30)
        return (r.stderr or r.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def _calibration() -> dict:
    """A fixed CPU probe taken before the run, for diagnosis only:
    metrics are never rescaled by it."""
    t = time.perf_counter()
    h = hashlib.sha256()
    block = b"x" * (1 << 20)
    for _ in range(64):
        h.update(block)
    return {"python_sha256_64mb_s": time.perf_counter() - t}


def _e2e(res: dict, tail_pct: float) -> tuple[dict, dict]:
    """The end-to-end metrics of a workload result, and their sample counts."""
    from measure import median, percentile, samples_beyond

    ops = res["ops"]
    done = [o for o in ops if o["ok"]]
    lat = [o["s"] for o in done]
    reads = [o["s"] for o in done if o["cls"] == "read"]
    writes = [o["s"] for o in done if o["cls"] == "write"]
    return {
        "setup_s": median(res["setup_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "ops_per_s": len(done) / res["window_s"],
        "read_p50_ms": median(reads) * 1000,
        "write_p50_ms": median(writes) * 1000,
        "op_tail_ms": percentile(lat, tail_pct) * 1000,
        "space_amp": res["space_amp"],
    }, {
        "samples": {"ops": len(lat), "reads": len(reads), "writes": len(writes),
                    "setups": len(res["setup_s"])},
        "tail_pct": tail_pct,
        "tail_rule_met": samples_beyond(len(lat), tail_pct) >= 10,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hbase_snapshot_spark", "__init__.py")):
        print("perfbench: engine package hbase_snapshot_spark not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    spec = _load_spec()
    import measure
    from common import Context

    wl = __import__(args.workload)
    nproc = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    os.makedirs(OUT_DIR, exist_ok=True)
    import pyspark

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "loadavg_before": os.getloadavg(),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
    }
    spark = None
    prep: dict = {}

    def prepare() -> None:
        try:
            record["java"] = _java_version()
            prep["state"] = wl.prepare(workdir, args.seed)
        except BaseException as e:  # re-raised on the main thread
            prep["error"] = e

    try:
        dirs = _scratch_env(workdir)
        # the inputs are made while the JVM starts: neither is measured
        maker = threading.Thread(target=prepare, name="prepare")
        maker.start()
        try:
            t = time.perf_counter()
            spark = _spark_session(workdir, nproc, *dirs)
            record["spark_start_s"] = time.perf_counter() - t
        finally:
            maker.join()
        if "error" in prep:
            raise prep["error"]
        record["calibration"] = _calibration()
        from pyspark import SparkContext

        jvm_pid = getattr(SparkContext._gateway, "proc", None)
        jvm_pid = jvm_pid.pid if jvm_pid is not None else None
        jvm = spark.sparkContext._jvm
        heap = jvm.java.lang.Runtime.getRuntime().maxMemory()
        # Spark's unified execution + storage pool (default fraction 0.6)
        record["spark_pool_bytes"] = int((heap - 300 * 2**20) * 0.6)
        tracer = measure.Tracer(enabled=bool(args.trace))
        counters = measure.SparkCounters(spark.sparkContext, enabled=bool(args.trace))
        ctx = Context(spark=spark, workdir=workdir, seed=args.seed,
                      seconds=args.seconds, trace=bool(args.trace),
                      tracer=tracer, counters=counters, nproc=nproc)
        res = wl.run(ctx, prep["state"])
        res["peak_rss_mb"] = measure.peak_rss_mb(jvm_pid)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    e2e, e2e_info = _e2e(res, wl.TAIL_PCT)
    record.update(res["info"])
    record["info_metrics"] = res["info_metrics"]
    record["ops"] = [[o["kind"], o["s"], o["ok"]] for o in res["ops"]]
    record.update({"loadavg_after": os.getloadavg(), "e2e": e2e,
                   "e2e_info": e2e_info, "checks": res["checks"],
                   "errors": res["errors"]})
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        layer = dict(res["layer"])
        if sorted(layer) != sorted(wl.LAYER_METRICS):
            raise SystemExit(f"{args.workload} emitted {sorted(layer)}, "
                             f"declares {sorted(wl.LAYER_METRICS)}")
        for lay, sec in tracer.layer_self_s().items():
            layer[f"self_s.{lay}"] = sec
        unknown = sorted(set(layer) - set(names))
        if unknown:
            raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        # a layer this workload never calls reports 0
        metrics = {n: layer.get(n, 0.0) for n in names}
        # against the last untraced run of this seed, else of this workload
        overhead = None
        for last in (os.path.join(OUT_DIR, f"run-{tag}-trace0.json"),
                     os.path.join(OUT_DIR, f"last-{args.workload}.json")):
            if os.path.exists(last):
                with open(last) as f:
                    base = json.load(f)
                overhead = {"vs_seed": base["seed"], **{
                    k: e2e[k] / base["e2e"][k] - 1 for k in e2e if base["e2e"].get(k)}}
                break
        record["tracing_overhead"] = overhead
        tracer.dump(os.path.join(OUT_DIR, f"spans-{tag}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "tracing_overhead": overhead})
    else:
        metrics = e2e
        names = [m["name"] for m in spec["end_to_end"]]
        with open(os.path.join(OUT_DIR, f"last-{args.workload}.json"), "w") as f:
            json.dump(record, f, indent=1)
    with open(os.path.join(OUT_DIR, f"run-{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if sorted(metrics) != sorted(names):
        raise SystemExit(f"metric names {sorted(metrics)} != BENCHMARK.json {sorted(names)}")

    for name, val in sorted({**e2e, **res["info_metrics"]}.items()):
        print(f"{name:<32} {val:>14.4f}")
    bad = [c for c in res["checks"] if not c["ok"]]
    print(f"checks: {len(res['checks']) - len(bad)} ok, {len(bad)} failed")
    for c in bad:
        print(f"FAIL {c['name']}: {c['detail']}")
    for e in res["errors"][:10]:
        print(f"error {e}")
    correct = all(c["ok"] for c in res["checks"]) and not res["errors"]
    attempted = len(res["ops"]) + len(res["checks"])
    failed = sum(not o["ok"] for o in res["ops"]) + sum(not c["ok"] for c in res["checks"])
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in names},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
