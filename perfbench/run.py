"""The repository benchmark: one seeded workload, timed passes, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload pipelines --seed 1 \\
        --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, measured
with tracing off. ``--trace 1`` spends the first half of the window on
untraced passes and the second on traced ones, and prints the per-layer
metrics. Either way the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``, and a run record (host
context, checks, pass times, spans) is written to
``.perfbench/results/<run id>.json`` under the checkout root. All inputs,
Spark scratch space and temp files live under ``.perfbench/`` too.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 7  # session set-ups per run; setup_s is their median
# A pass is clean when the hypervisor gave at most this share of the
# machine's CPU time during it to other guests (steal time). On a shared
# host, steal comes in bursts that slowed a pass by up to 2x.
CLEAN_STEAL = 0.025


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    return ap.parse_args(argv)


def measure(args, spec, work, run_id) -> tuple[dict, dict]:
    import harness as h
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    phase = {}
    t_phase = time.perf_counter()

    def lap(name):
        nonlocal t_phase
        now = time.perf_counter()
        phase[name] = now - t_phase
        t_phase = now

    setups, get_spark_s, spark = [], [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, total, factory = h.start_session("perfbench", work)
            setups.append(total)
            get_spark_s.append(factory)
        lap("setup")
        ctx = h.host_context(spark)
        ctx["loadavg_start"] = os.getloadavg()[0]
        ctx["calib_sec"] = h.calib_sec(spark)
        lap("calib")
        wl.prepare(spark, work, args.seed, args.scale)
        lap("prepare")
        warm_s = wl.warm(h.Untraced())  # not counted as attempted
        lap("warm")
        h.collect_garbage(spark)
        h.reset_peak_rss(h.engine_pids(spark))
        passes, failed, recalls, outs, spans = window(args, spark, wl, run_id, h)
        peak_rss = h.peak_rss_mb(h.engine_pids(spark))
        lap("window")
        f, r, checks = wl.check_final(len(passes))
        lap("check")
        failed += f
        if r is not None:
            recalls.append(r)
        ctx["loadavg_end"] = os.getloadavg()[0]
    finally:
        if spark is not None:
            h.stop_session(spark)
    lap("stop")

    done = [p for p in passes if not p["traced"] and p["wall_s"]]
    if not done:
        raise RuntimeError("no untraced pass completed")
    plain = [p["wall_s"] for p in done]
    clean = [p["wall_s"] for p in done if p["clean"]] or plain
    traced_w = [p["wall_s"] for p in passes if p["traced"] and p["wall_s"]]
    lat = [x for tr, o in outs if not tr for x in wl.latencies(o)]
    tail = h.tail(lat)
    record = {
        "run": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "input_rows": wl.input_rows, "context": ctx, "setup_s": setups,
        "get_spark_s": get_spark_s, "warm_pass_s": warm_s,
        "pass_wall_s": plain,
        "pass_steal_s": [p["steal_s"] for p in done],
        "pass_jvm": [{k: v for k, v in p.items() if k.startswith("jvm_")}
                     for p in done],
        "traced_pass_wall_s": traced_w, "checks": checks,
        "recalls": recalls, "peak_rss_mb": peak_rss,
        "query_latencies": [o for tr, o in outs if not tr and wl.latencies(o)],
        "query_latency": lat and {
            "p50_s": h.median(lat), "samples": len(lat),
            "tail_s": tail and tail[0], "tail_percentile": tail and tail[1]},
        "trace_overhead_s": (h.median(traced_w) - h.median(plain)
                             if traced_w else None),
        "phase_s": phase,
        "spans": spans,
    }
    record["rows_per_s"] = wl.input_rows / h.median(clean)
    values = {
        "setup_s": h.median(setups),
        "wall_s": h.median(clean),
        "recall": min(recalls),
    }
    if args.trace:
        values = per_layer(spec, passes, get_spark_s, lat, wl.export_rows, h)
        record["per_layer"] = values
    result = {
        "correct": failed == 0,
        "attempted": len(passes) * wl.ops_per_pass,
        "failed": failed,
        "metrics": {},
    }
    group = "per_layer" if args.trace else "end_to_end"
    for m in spec[group]:
        result["metrics"][m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return result, record


def window(args, spark, wl, run_id, h):
    """Timed passes, back to back. A pass starts only if the previous
    pass's time says it ends within ``args.seconds``, except that at least
    one untraced pass runs and, with tracing, one traced pass. With
    tracing, passes from the middle of the window on are traced. Without
    it, if no pass was clean (see CLEAN_STEAL), one more pass runs."""
    tracer = h.Tracer(spark, run_id) if args.trace else None
    passes, failed, recalls, outs = [], 0, [], []
    retried, t_start = False, time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        ends = elapsed + (passes[-1]["took"] if passes else 0)
        n_plain = sum(not p["traced"] for p in passes)
        n_traced = len(passes) - n_plain
        if n_plain and (not tracer or n_traced) and ends > args.seconds:
            if tracer or retried or any(p["clean"] for p in passes):
                break
            retried = True
        traced = bool(tracer) and n_plain > 0 and (
            elapsed >= args.seconds / 2 or ends > args.seconds)
        t = tracer if traced else h.Untraced()
        mark = len(tracer.spans) if tracer else 0
        h.collect_garbage(spark)  # no pass pays for the previous one's garbage
        jvm0, steal0 = h.jvm_times(spark), h.steal_s()
        t0 = time.perf_counter()
        try:
            with t.op("pass"):
                out = wl.run_pass(t)
        except Exception:
            traceback.print_exc()
            failed += wl.ops_per_pass
            passes.append({"traced": traced, "wall_s": None, "clean": False,
                           "took": time.perf_counter() - t0})
            continue
        took = time.perf_counter() - t0
        steal = h.steal_s() - steal0
        rec = {"traced": traced, "wall_s": took, "took": took, "steal_s": steal,
               "clean": steal <= CLEAN_STEAL * took * os.cpu_count()}
        rec.update({k: v - jvm0[k] for k, v in h.jvm_times(spark).items()})
        if traced:
            rec["layers"] = tracer.layer_totals(mark)
        passes.append(rec)
        outs.append((traced, out))
        f, r = wl.check_pass(out)
        failed += f
        if r is not None:
            recalls.append(r)
    if tracer:
        tracer.close()
    return passes, failed, recalls, outs, tracer.spans if tracer else []


def per_layer(spec, passes, get_spark_s, lat, export_rows, h) -> dict:
    """Median over traced passes of each layer's per-pass totals."""
    traced = [p["layers"] for p in passes if p.get("layers")]
    out = {}
    for m in spec["per_layer"]:
        layer, key = m["name"].rsplit(".", 1)
        if m["name"] == "session.build_s":
            v = h.median(get_spark_s)
        elif m["name"] == "queries.p50_s":
            v = h.median(lat)
        elif key == "bytes_per_row":
            v = h.median([t.get(layer, {}).get("bytes_written", 0) / export_rows
                          for t in traced])
        elif key == "pair_precision":
            d = [t.get(layer, {}) for t in traced]
            v = h.median([x.get("verified_pairs", 0) / x["candidate_pairs"]
                          for x in d if x.get("candidate_pairs")])
        else:
            v = h.median([t.get(layer, {}).get(key, 0) for t in traced])
        out[m["name"]] = v
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its Spark session and JVM (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts, its launcher included, keeps its temp
    # and perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}")))
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    sys.path[:0] = [ROOT, HERE]
    try:
        import datamine_v2_0_spark.session  # noqa: F401  the engine under test
        from workloads import WORKLOADS
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        result, record = measure(args, spec, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    summary = {k: record[k] for k in ("input_rows", "context", "checks", "phase_s",
                                      "peak_rss_mb", "rows_per_s",
                                      "warm_pass_s", "pass_steal_s",
                                      "pass_wall_s", "traced_pass_wall_s",
                                      "trace_overhead_s", "query_latency")}
    print(json.dumps(summary, default=str), file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
