"""Store-level benchmark of tachyon_spark: a seeded labelled metric store
driven through a closed-loop workload, every answer checked.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 30 --trace 0

Run from the repository root. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer ones (see perfbench/README.md). The last line
of standard output is one JSON object: correct, attempted, failed and
metrics. Scratch files live under .perfbench_work/ and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def pct(xs, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(xs, dtype=float), q))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tachyon_spark", "__init__.py")):
        print(f"perfbench: no tachyon_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from load import cpu_count, start_spark
    from noise import Noise
    from workloads import WORKLOADS, Run, catalog_fragments

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the metric names and units are BENCHMARK.json's
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    cpus = cpu_count()
    noise = Noise(cpus)

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, cpus)
    with ThreadPoolExecutor(1) as pool:  # the catalog needs no session
        registered = pool.submit(wl.register)
        spark = start_spark(work, cpus)
        spark_s = time.perf_counter() - t0
    try:
        registered.result()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        catalog = {"fragments_after_setup": catalog_fragments(wl.db),
                   "compactions_in_setup": wl.compactions}
        if args.trace:
            metrics, run = traced(wl, args.seconds, units)
        else:
            run = Run()
            wl.loop(run, args.seconds)
            metrics = end_to_end(wl, run, setup_s)
        catalog.update(fragments_at_end=catalog_fragments(wl.db),
                       compactions_after_setup=wl.compactions
                       - catalog["compactions_in_setup"])
        for r in (wl.warm, run):
            wl.check(r)
        run.merge(wl.warm)
        rss = {"python_mb": vm_hwm_mb(os.getpid()), "jvm_mb": vm_hwm_mb(jvm_pid)}
        if not args.trace:
            metrics["peak_rss_mb"] = rss["python_mb"] + rss["jvm_mb"]
        record = {"workload": args.workload, "seed": args.seed, "rss": rss,
                  "trace": args.trace, "setup_s": setup_s,
                  "setup_phases": {"spark_s": spark_s, **wl.phases},
                  "catalog": catalog, "rounds_s": run.rounds,
                  "noise": noise.finish(),
                  "reasons": run.reasons}
    finally:
        wl.close()
        stop_spark(spark)
    for k, v in sorted(metrics.items()):
        print(f"{k:32s} {v:.6g}")
    print("noise " + json.dumps(record["noise"]))
    print("setup " + json.dumps(record["setup_phases"]))
    print("rss " + json.dumps(record["rss"]))
    print("catalog " + json.dumps(record["catalog"]))
    print("rounds " + json.dumps([round(x, 3) for x in run.rounds]))
    print(f"error_rate {run.failed / max(1, run.attempted):.4g} "
          f"({run.failed}/{run.attempted})"
          + (" first failures: " + " | ".join(run.reasons) if run.reasons else ""))
    rec_dir = os.path.join(os.getcwd(), ".perfbench_work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-{args.seed}-{args.trace}-"
                           f"{int(time.time())}.json"), "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def end_to_end(wl, run, setup_s: float) -> dict:
    writes, samples, stored = wl.timed_writes(run)
    return {
        "setup_s": setup_s,
        "read_p50_s": pct(run.reads, 50),
        "read_p90_s": pct(run.reads, 90),
        "reads_per_s": len(run.reads) / run.measured_s,
        "refresh_p50_s": pct(run.rounds, 50),
        "write_p50_s": pct(writes, 50),
        "write_p90_s": pct(writes, 90),
        "samples_per_s": samples / sum(writes),
        "stored_bytes_per_sample": stored / samples,
    }


def traced(wl, seconds: float, names):
    """Half the time traced, then half untraced; per-layer metrics from
    the traced half, tracing overhead from the difference. The traced half
    comes first so it sees the ingest catalog's compaction. Probe ops are
    kept apart from loop ops, so the overhead compares like with like."""
    from tracing import Tracer, layer_values
    from workloads import Run, catalog_fragments

    run, base = Run(), Run()  # loop ops: traced half, untraced half
    probe, probe_base = Run(), Run()
    tracer = Tracer(wl.spark)
    tracer.install()
    wl.tracer = tracer
    compactions0 = wl.compactions
    try:
        wl.loop(run, seconds / 2, min_rounds=1)
        wl.probe(probe, traced=True)
    finally:
        tracer.uninstall()
        wl.tracer = None
    wl.loop(base, seconds / 2, min_rounds=1)
    wl.probe(probe_base, traced=False)
    tracer.jobs()
    tracer.self_times()
    loop = [s for s in tracer.spans if not str(s["op"]).startswith("p")]
    probed = [s for s in tracer.spans if str(s["op"]).startswith("p")]
    values = layer_values(loop, probed)
    m = {k: pct(v, 50) for k, v in values.items()}
    m["catalog.fragments"] = catalog_fragments(wl.db)
    m["catalog.compactions"] = wl.compactions - compactions0

    def overhead(attr):
        """Traced minus untraced median of one op kind, from the loop if
        both halves' loops had it, else from both halves' probes."""
        pair = (getattr(run, attr), getattr(base, attr))
        if not all(pair):
            pair = (getattr(probe, attr), getattr(probe_base, attr))
        return pct(pair[0], 50) - pct(pair[1], 50)

    m["trace.read_overhead_s"] = overhead("reads")
    m["trace.write_overhead_s"] = overhead("writes")
    rec_dir = os.path.join(os.getcwd(), ".perfbench_work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    tracer.dump(os.path.join(rec_dir, f"spans-{wl.name}-{wl.seed}.jsonl"))
    missing = sorted(set(names) - set(m))
    if missing:  # a layer no op reached has no measurement, not a 0
        raise RuntimeError(f"no spans for per-layer metrics {missing}")
    for r in (base, probe, probe_base):
        run.merge(r)
    return m, run


if __name__ == "__main__":
    sys.exit(main())
