"""Benchmark command for anarcpt-spark.

    python3 perfbench/run.py --workload receipt_ingest --seed 1 --seconds 10 --trace 0

Runs one closed-loop workload with one client in a fresh process and a
fresh work directory, checks every op's output, prints each metric by name
with its unit and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate run that reports the
per-layer metrics (layers a workload never calls read 0). See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

from workloads import QUERIES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "throughput_per_s": "1/s",
    "op_geomean_s": "s",
}
PER_LAYER = {
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.gc_s_per_op": "s",
    "session.jit_compile_s_per_op": "s",
    "session.jvm_peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "streaming.ingest.add_batch_s": "s",
    "streaming.ingest.trigger_overhead_s": "s",
    "streaming.ingest.query_start_stop_s": "s",
    "multimodal.images.read_s": "s",
    "multimodal.images.ahash_s": "s",
    "multimodal.ocr.ocr_with_cache_s": "s",
    "multimodal.ocr.backend_calls_per_op": "count",
    "multimodal.ocr.cache_hit_ratio": "ratio",
    "sources.textract.parse_s": "s",
    "operators.curation.heuristic_quality_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.components.connected_components_s": "s",
    "operators.curation.contaminated_ids_s": "s",
    "sources.sinks.write_training_shards_s": "s",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.lsh_pairs": "count",
    "operators.dedup.lsh_precision": "ratio",
    "operators.curation.kept_ratio": "ratio",
    **{f"{layer}.{q}": "s" for q in QUERIES for layer in
       ("plans.build_s", "plans.optimize_s", "operators.execute_s", "session.collect_s")},
}


def tail(xs: list[float]) -> tuple[float, str]:
    """The p90 of the timed ops, and how to read it."""
    n = len(xs)
    p90 = xs[0] if n == 1 else statistics.quantiles(xs, n=10, method="inclusive")[-1]
    if n >= 11:
        k = n - 11  # sorted index with exactly 10 ops beyond it
        note = f"p90 of n={n}; p{100 * (n - 10) / n:.0f} (10 ops beyond) = {sorted(xs)[k]:.4f} s"
    else:
        note = f"p90 of n={n}; no percentile has 10 timed ops beyond it"
    return p90, note


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def isolate(work: str) -> int:
    """Pin the run's environment before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{work}/{d}")
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": f"{work}/tmp",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp",
        "PYSPARK_PYTHON": sys.executable,
        # The package is not installed: the Python workers import it, and the
        # benchmark's OCR backend, from here.
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")])),
    })
    import tempfile

    tempfile.tempdir = f"{work}/tmp"
    return cpus


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for them."""
    import probes
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jpid = probes.jvm_pid()
    kids = probes.descendants(jpid) if jpid else []
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    probes.wait_gone(kids + ([jpid] if jpid else []))


def drive(wl, spark, seconds: float, traced: bool, tracer) -> tuple[list[dict], dict]:
    """Cold op, warm-up ops, then timed ops: they start while less than
    ``seconds`` have passed, and until ``wl.MIN_TIMED`` have run and the
    count is a multiple of ``wl.CYCLE``."""
    import probes

    counters = probes.JvmCounters(spark)
    probe = None
    if traced and wl.name == "receipt_ingest":
        probe = probes.ProgressProbe()
        spark.streams.addListener(probe)
    warm = wl.WARMUP
    ops: list[dict] = []
    host: dict = {}
    t_timed = None
    i = 0
    while True:
        phase = "cold" if i == 0 else "warm-up" if i <= warm else "timed"
        if phase == "timed":
            if t_timed is None:
                t_timed = time.perf_counter()
                host["load_start"], steal0 = probes.loadavg(), probes.cpu_times()
            n_timed = i - warm - 1
            done = (time.perf_counter() - t_timed >= seconds and n_timed >= wl.MIN_TIMED
                    and n_timed % wl.CYCLE == 0)
            if done or i >= wl.MAX_OPS:
                break
        wl.before(i, snapshot=traced and phase == "timed")
        rec = {"i": i, "phase": phase, "kind": wl.kind(i), "error": None, "problems": []}
        gc0, jit0 = counters.gc_jit_s()
        if traced:
            spark.sparkContext.setJobGroup(f"perfbench-op{i}", f"perfbench op {i}")
            ungrouped0, runs0 = counters.ungrouped_jobs(), set(probe.progress) if probe else set()
        with tracer.span("op", i):
            t0 = time.perf_counter()
            try:
                rec["items"] = wl.op(i)
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
                rec["items"] = 0
            rec["latency_s"] = time.perf_counter() - t0
        gc1, jit1 = counters.gc_jit_s()
        rec["gc_s"], rec["jit_s"] = gc1 - gc0, jit1 - jit0
        if traced:
            groups = [f"perfbench-op{i}"]
            if probe:
                run_id = probe.wait_new_run(runs0)
                if run_id:
                    groups.append(run_id)
                    dur = probe.progress[run_id]
                    rec["add_batch_s"] = sum(d.get("addBatch", 0) for d in dur) / 1000.0
                    rec["trigger_s"] = sum(d.get("triggerExecution", 0) for d in dur) / 1000.0
            rec["jobs"], rec["tasks"] = counters.jobs_and_tasks(groups, ungrouped0)
        if rec["error"] is None:
            try:
                rec["problems"] = wl.check(i)
            except Exception:
                rec["problems"] = ["output check raised: " + traceback.format_exc(limit=2)]
        ops.append(rec)
        i += 1
    host["load_end"] = probes.loadavg()
    steal1 = probes.cpu_times()
    host["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    if traced:
        spark.sparkContext.setJobGroup("perfbench-decompose", "perfbench layer split")
    return ops, host


def layer_metrics(wl, spark, ops: list[dict], tracer) -> dict[str, float]:
    timed = [o for o in ops if o["phase"] == "timed"]
    med = statistics.median
    out = {name: 0.0 for name in PER_LAYER}
    out.update({
        "session.jobs_per_op": med(o["jobs"] for o in timed),
        "session.tasks_per_op": med(o["tasks"] for o in timed),
        "session.gc_s_per_op": med(o["gc_s"] for o in timed),
        "session.jit_compile_s_per_op": med(o["jit_s"] for o in timed),
        "trace.op_p50_s": med(o["latency_s"] for o in timed),
    })
    if wl.name == "receipt_ingest":
        streamed = [o for o in timed if "trigger_s" in o]
        idx = [o["i"] for o in timed]
        out.update({
            "streaming.ingest.add_batch_s": med(o["add_batch_s"] for o in streamed),
            "streaming.ingest.trigger_overhead_s": med(o["trigger_s"] - o["add_batch_s"] for o in streamed),
            "streaming.ingest.query_start_stop_s": med(o["latency_s"] - o["trigger_s"] for o in streamed),
            "multimodal.ocr.backend_calls_per_op": med(wl.backend_calls.get(k, 0) for k in idx),
            "multimodal.ocr.cache_hit_ratio": sum(wl.hits[k][0] for k in idx) / sum(wl.hits[k][1] for k in idx),
        })
    out.update(wl.decompose(spark, tracer))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "receiptanalyzerpipeline_spark", "__init__.py")):
        print(f"perfbench: no receiptanalyzerpipeline_spark package next to {HERE}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    for stale in os.listdir(base) if os.path.isdir(base) else []:
        pid = stale.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(base, stale), ignore_errors=True)
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, workload_cls) -> int:
    cpus = isolate(work)
    import probes

    traced = bool(args.trace)
    tracer = probes.Tracer(traced)
    wl = workload_cls(args.seed, work)
    t0 = time.perf_counter()
    wl.prepare()
    input_gen_s = time.perf_counter() - t0

    from receiptanalyzerpipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.range(1).collect()
    setup_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.start(spark)
        ops, host = drive(wl, spark, args.seconds, traced, tracer)
        bad_kinds = wl.final_check()
        layers = layer_metrics(wl, spark, ops, tracer) if traced else {}
        import pyspark

        host.update({
            "nproc": cpus,
            "java": spark._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "work_fs": probes.fs_type(work),
        })
        rss_mb = probes.peak_rss_mb(probes.jvm_pid())
    finally:
        shutdown(spark)

    for o in ops:
        o["problems"] += bad_kinds.get(o["kind"], [])
    failed = [o for o in ops if o["error"] or o["problems"]]
    timed = [o for o in ops if o["phase"] == "timed"]
    ok = [o for o in timed if not (o["error"] or o["problems"])] or timed
    lat = [o["latency_s"] for o in ok]
    kinds: dict[str, list[float]] = {}
    for o in ok:
        kinds.setdefault(o["kind"], []).append(o["latency_s"])
    tail_s, tail_note = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "cold_op_s": ops[0]["latency_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "throughput_per_s": sum(o["items"] for o in ok) / sum(lat),
        "op_geomean_s": geomean([statistics.median(v) for v in kinds.values()]),
    }

    print(f"perfbench workload={wl.name} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print(f"isolation: one process, one closed-loop client; SPARK_GRAFT_CPUS={cpus} "
        f"(local[{cpus}], {cpus} shuffle partitions); work dir and SPARK_LOCAL_DIRS under "
        f"{os.path.relpath(work, ROOT)} ({host['work_fs']}), fresh per run; console progress off; "
        f"PYTHONPATH={os.environ['PYTHONPATH']}")
    print(f"host: nproc={cpus} load1={host['load_start']:.2f}->{host['load_end']:.2f} "
        f"cpu_steal={100 * host['steal_frac']:.2f}% java={host['java']} pyspark={host['pyspark']} "
        f"python={host['python']}")
    print(f"run: input_gen_s={input_gen_s:.3f} (info only) warmup_ops={wl.WARMUP} "
        f"timed_ops={len(timed)} attempted={len(ops)} failed={len(failed)}")
    for o in ops:
        extra = f" jobs={o['jobs']} tasks={o['tasks']}" if traced else ""
        print(f"  op {o['i']:3d} {o['phase']:7s} {o['kind']:26s} {o['latency_s']:8.3f} s  "
            f"gc={o['gc_s']:.3f} s jit={o['jit_s']:.3f} s{extra}"
            + ("  FAILED: " + (o["error"] or "; ".join(o["problems"]))[:300] if o in failed else ""))
    print(f"failed_op_frac = {len(failed) / len(ops):.4f} ratio")

    result_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(result_dir, exist_ok=True)
    last_untraced = os.path.join(result_dir, f"last-untraced-{wl.name}.json")
    if traced:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        metrics["session.jvm_peak_rss_mb"]["value"] = rss_mb
        for k, m in metrics.items():
            print(f"{k} = {m['value']:.6g} {m['unit']}")
        print("note: the noop decompositions re-execute upstream work, so they attribute "
            "time to layers rather than partition the op.")
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)["op_p50_s"]
            print(f"tracing overhead = {e2e['op_p50_s'] - base:+.4f} s "
                f"(traced op_p50_s {e2e['op_p50_s']:.4f} - last untraced {base:.4f})")
        with open(os.path.join(result_dir, f"trace-{wl.name}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "self_s": tracer.self_times(), "ops": ops,
                       "host": host, "layers": layers}, f, default=str)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        for k, m in metrics.items():
            print(f"{k} = {m['value']:.4f} {m['unit']}" + (f"  ({tail_note})" if k == "op_tail_s" else ""))
        if wl.name == "receipt_ingest":
            print(f"receipts_per_s = {e2e['throughput_per_s']:.4f} 1/s (new receipts curated per timed second)")
        else:
            print(f"query_geomean_s = {e2e['op_geomean_s']:.4f} s (geomean of per-query medians)")
        with open(last_untraced, "w") as f:
            json.dump(e2e, f)
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                    "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
