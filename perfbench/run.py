"""sparkcdc benchmark: one workload per run, result as the last stdout line.

    python3 perfbench/run.py --workload tail_lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything the run writes stays under
``.perfbench/`` there (work files, Spark scratch, JVM temp files); the work
directory is removed when the run ends, and traced runs keep their spans
under ``.perfbench/spans/``. The exit code is 0 only when every operation
and every oracle gate passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

# name -> unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "apply_events_per_s": "events/s",
    "commit_latency_p50_s": "s",
    "derived_lag_p50_s": "s",
    "lookup_latency_p50_s": "s",
    "write_amp": "bytes/byte",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tail_lookup", "tail_derived"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    from sparkcdc.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": os.environ["JAVA_TOOL_OPTIONS"],
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
        })
    spark = get_spark(app="perfbench", master="local[4]", shuffle_partitions=4,
                      driver_memory="2g", ui=trace, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def report_layers(wl, tracer, args) -> dict[str, float]:
    """Per-layer metrics of every traced span, a self-time table of the
    traced triggers on stderr, and the spans file."""
    from tracer import layer_metric_names

    tracer.attach_spark_counters()
    totals = tracer.layer_totals()
    values = {}
    for name in layer_metric_names():
        layer, counter = name.rsplit(".", 1)
        values[name] = float(totals.get(layer, {}).get(counter, 0))
    triggers = [s for s in tracer.spans if s["name"] == "bench.trigger"]
    values["trace.ops"] = float(len(triggers))
    values["trace.overhead_s"] = wl.trace_overhead()

    # the design check covers the triggers only, not the lookups after them
    in_window = [s for s in tracer.spans if s["trigger"] is not None]
    window = tracer.layer_totals(in_window)
    wall = sum(s["end"] - s["start"] for s in triggers) or 1.0
    lines = [f"# {args.workload} seed={args.seed}: self time by layer over "
             f"{len(triggers)} traced triggers ({wall:.2f} s)",
             f"{'layer':34s} {'calls':>6s} {'wall_s':>8s} {'self_s':>8s} "
             f"{'share':>6s} {'driver_s':>8s} {'jobs':>5s}"]
    ranked = sorted(window.items(), key=lambda kv: -kv[1]["self_s"])
    for layer, t in ranked:
        lines.append(f"{layer:34s} {t['calls']:6d} {t['wall_s']:8.3f} {t['self_s']:8.3f} "
                     f"{t['self_s'] / wall:6.1%} {t.get('driver_s', 0):8.3f} "
                     f"{int(t.get('jobs', 0)):5d}")
    glue = sum(s["self_s"] for s in triggers)
    lines.append(f"{'benchmark (trigger self time)':34s} {'':6s} {'':8s} {glue:8.3f} "
                 f"{glue / wall:6.1%}")
    derived = window["aggview.refresh_from"]["self_s"] + window["packing.refresh_from"]["self_s"]
    driver = window["icebox.merge"].get("driver_s", 0) + sum(
        t["self_s"] for layer, t in window.items()
        if layer.split(".")[0] in ("engine", "changelog", "commitstore", "metrics"))
    lines += [
        f"largest self time: {ranked[0][0]}; aggview + packing refresh together: "
        f"{derived:.3f} s ({derived / wall:.1%})",
        f"driver-side layers (engine.*, changelog.*, commitstore.*, metrics.*, "
        f"icebox.merge.driver_s): {driver:.3f} s ({driver / wall:.1%} of trigger wall)",
        f"tracing overhead: {values['trace.overhead_s']:+.3f} s per trigger "
        f"(median traced minus median untraced trigger wall)",
    ]
    print("\n".join(lines), file=sys.stderr)
    tracer.write_spans(os.path.join(OUT, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    log(f"{args.workload} seed={args.seed} trace={args.trace}")
    sys.path.insert(0, ROOT)
    import sparkcdc  # noqa: F401 - fail before writing anything when the package is absent

    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Python's, the JVMs' and Spark's scratch files inside the work dir
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = None
    try:
        from workloads import WORKLOADS

        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        spark.range(1).count()  # the session is usable
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
        setup_s = session_s + wl.setup()
        log(f"session {session_s:.2f} s, set-ups {[round(t, 2) for t in wl.setup_times]} s, "
            f"setup_s {setup_s:.2f} s")
        if tracer is not None:
            tracer.install()
        wl.measure()
        if tracer is not None:
            tracer.active = False
            layers = report_layers(wl, tracer, args)
            tracer.uninstall()
        log(f"window done: {len(wl.commit_lat)} commits, {len(wl.lookup_lat)} lookups")
        wl.check()
        log("checks done")
        if args.trace:
            values, units = layers, {k: layer_unit(k) for k in layers}
        else:
            values, units = wl.metrics(setup_s), END_TO_END
        for why in wl.failures:
            print(f"FAILED: {why}", file=sys.stderr)
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
        print(json.dumps(result))
        return 0 if wl.failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")


if __name__ == "__main__":
    sys.exit(main())
