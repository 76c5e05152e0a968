"""KG-construction benchmark.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Generates the
workload's inputs from ``--seed``, sets up a local Spark session
(``local[nproc]``), runs the workload's operations in a
closed loop for ``--seconds`` (at least one cycle), checks every
output against an oracle outside the timed region, and prints:

- a detail line (JSON) with input sizes, the environment stamp, the
  oracle verdicts and the wall-clock metrics under their workload names;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``:
  the end-to-end metrics with ``--trace 0``, the per-layer metrics
  with ``--trace 1``.

Scratch files go under ``perfbench/.out/`` in the checkout. See
``perfbench/README.md`` for the metrics and why each workload exists.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")

# layer -> spans whose inclusive counters the layer reports
LAYER_SPANS = {
    "pages": [("isolated.pages", {})],
    "extract": [("isolated.extract", {})],
    "mention": [("isolated.mention", {})],
    "link": [("isolated.link", {})],
    "canon": [("isolated.canon", {}),
              ("operators.canonicalize.canonical_mapping", {"kind": "canon"})],
    "materialize": [("isolated.materialize", {})],
    "enrich": [("isolated.enrich", {})],
    "merge": [("operators.materialize.merge_into", {})],
    "ingest": [("streaming.ingest.run_streaming_triples", {"kind": "delta"})],
    "pipeline": [("plans.pipeline.run_staged", {"kind": "build"})],
}

# every per-layer metric the traced run prints, with its unit
PER_LAYER = {"pages.synth_s": "s"}
for _layer in LAYER_SPANS:
    if _layer != "pages":
        PER_LAYER[f"{_layer}.s"] = "s"
    PER_LAYER.update({f"{_layer}.jobs": "count", f"{_layer}.tasks": "count",
                      f"{_layer}.shuffle_mb": "MB", f"{_layer}.driver_s": "s"})
PER_LAYER.update({
    "extract.mb_per_s": "MB/s",
    "mention.hit_ratio": "ratio",
    "link.resolved_ratio": "ratio",
    "canon.task_skew": "ratio",
    "merge.rewrite_ratio": "ratio",
    "ingest.add_batch_s": "s",
    "ingest.overhead_s": "s",
    "lineage.write_s": "s",
    "lineage.verify_s": "s",
    **{f"pipeline.stage_s.{st}": "s"
       for st in ("extract", "link", "canonicalize", "materialize", "enrich")},
    "pipeline.recompute_ratio": "ratio",
    "pipeline.plan_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "trace.failed_tasks": "count",
    "trace.spill_mb": "MB",
})


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _driver_mem() -> str:
    """A quarter of the host's memory, between 1 and 3 GiB: the
    session's 16g default is more than a small host has."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(3072, kb // 4096))}m"


def _env(run_out: str) -> dict:
    ncpu = len(os.sched_getaffinity(0))
    os.makedirs(f"{run_out}/tmp", exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_LOCAL_DIRS=f"{run_out}/spark-local",
        SPARK_GRAFT_DRIVER_MEM=_driver_mem(),
        TMPDIR=f"{run_out}/tmp",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_out}/tmp",
    )
    return {
        "nproc": ncpu,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "python": platform.python_version(),
        "loadavg_start": os.getloadavg(),
    }


def _setup(build_session, ncpu: int, extra: dict):
    """JVM launch, session and one trivial job."""
    t0 = time.perf_counter()
    spark = build_session(
        master=f"local[{ncpu}]",
        extra_conf={"spark.ui.showConsoleProgress": "false", **extra},
    )
    spark.range(0, 200000, 1, ncpu).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _shutdown(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: it
    exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(line for line in f if line.startswith("VmHWM")).split()[1]
    return int(kb) / 1024.0


def _results_store(workload: str) -> str:
    return os.path.join(OUT, "results", f"{workload}.jsonl")


def _layer_counters(tr) -> dict:
    v = {}
    for layer, specs in LAYER_SPANS.items():
        spans = [s for name, attrs in specs for s in tr.named(name, **attrs)]
        t_name = "pages.synth_s" if layer == "pages" else f"{layer}.s"
        v[t_name] = _median([s["dur_s"] for s in spans])
        for c in ("jobs", "tasks", "shuffle_mb", "driver_s"):
            v[f"{layer}.{c}"] = _median([s[c] for s in spans])
    return v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    phase = {"start": time.perf_counter()}

    if not os.path.isfile(os.path.join(ROOT, "multiomics_biocypher_kg_spark", "__init__.py")):
        print(f"perfbench: no multiomics_biocypher_kg_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from spans import EventLog, NullTracer, Tracer, dump

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    from multiomics_biocypher_kg_spark.session import build_session

    run_out = os.path.join(OUT, f"run-{args.workload}")
    shutil.rmtree(run_out, ignore_errors=True)
    env = _env(run_out)
    wl = workloads.WORKLOADS[args.workload](f"{run_out}/data", args.seed)
    sizes = wl.generate()
    phase["generated"] = time.perf_counter()

    # one set-up per run: a JVM launch cannot be repeated inside a process
    eventlog_dir = f"{run_out}/eventlog"
    extra = {}
    if args.trace:
        os.makedirs(eventlog_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }
    spark, setup_s = _setup(build_session, env["nproc"], extra)
    env["spark"] = spark.version
    env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    meter = workloads.Meter(jvm_pid)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    tr = Tracer(spark.sparkContext, run_id) if args.trace else NullTracer()
    if args.trace:
        wl.trace_hooks(tr)
    ops, errors, cycles = [], [], 0
    phase["set_up"] = time.perf_counter()
    steal0, total0 = _cpu_ticks()
    deadline = phase["set_up"] + args.seconds
    while cycles == 0 or time.perf_counter() < deadline:
        try:
            ops.extend(wl.cycle(spark, tr, meter, cycles))
        except Exception:  # a failed operation is counted, not fatal
            errors.append(traceback.format_exc())
            print(errors[-1], file=sys.stderr)
            break
        finally:
            cycles += 1
    if args.trace and not errors:
        wl.isolated(spark, tr)
    peak_rss = _peak_rss_mb(jvm_pid)
    if args.trace:
        tr.unwrap()
    phase["measured"] = time.perf_counter()
    steal1, total1 = _cpu_ticks()
    # CPU time the hypervisor gave to other guests while measuring
    env["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    _shutdown(spark)
    phase["stopped"] = time.perf_counter()
    env["loadavg_end"] = os.getloadavg()

    prim = [o for o in ops if o.kind == "primary"]
    rerun = [o for o in ops if o.kind == "rerun"]
    attempted = sum(o.units for o in ops) + len(errors)
    failed = sum(o.units for o in ops if not o.ok) + len(errors)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_cpu_s": (_median([o.cpu for o in prim]), "s"),
        "rows_per_cpu_s": (_median([o.rows / o.cpu for o in prim]), "rows/s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    op_wall = _median([o.s for o in prim])
    p_name, r_name = wl.names
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cycles": cycles, "inputs": sizes, "env": env,
        "oracle": {"ok": failed == 0, **getattr(wl, "checks", {})},
        "named": {
            "setup_s": {"value": setup_s, "unit": "s"},
            p_name: {"value": op_wall, "unit": "s", "n": len(prim),
                     "max": max((o.s for o in prim), default=0.0)},
            r_name: {"value": _median([o.s for o in rerun]), "unit": "s", "n": len(rerun)},
            "rows_per_s": {"value": _median([o.rows / o.s for o in prim]), "unit": "rows/s"},
            "op_cpu_s": {"value": e2e["op_cpu_s"][0], "unit": "s", "n": len(prim)},
            "rerun_cpu_s": {"value": _median([o.cpu for o in rerun]), "unit": "s", "n": len(rerun)},
            "rows_per_cpu_s": {"value": e2e["rows_per_cpu_s"][0], "unit": "rows/s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "failed_ops_share": {"value": failed / attempted if attempted else 1.0, "unit": "ratio"},
            **wl.extra_named(prim),
        },
    }

    if args.trace:
        ev = EventLog(eventlog_dir)
        ev.attribute(tr)
        layer = {}
        if not errors:
            layer = _layer_counters(tr)
            layer.update(wl.layer_values(tr, ev, sizes))
        store = _results_store(args.workload)
        base = []
        if os.path.isfile(store):
            with open(store) as f:
                base = [json.loads(line)["op_wall_s"] for line in f]
        untraced = _median(base)
        detail["trace_baseline_runs"] = len(base)
        layer["trace.overhead_s"] = op_wall - untraced if base else 0.0
        layer["trace.overhead_share"] = layer["trace.overhead_s"] / untraced if base else 0.0
        detail["trace_spans"] = len(tr.spans)
        layer["trace.failed_tasks"] = sum(j["failed_tasks"] for j in ev.jobs.values())
        layer["trace.spill_mb"] = sum(j["spill_bytes"] for j in ev.jobs.values()) / 1e6
        # a layer the workload does not run reads 0
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        trace_path = os.path.join(OUT, f"trace-{run_id}.json")
        dump(tr, trace_path, {"detail": detail, "layer": layer})
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
        if not errors:
            os.makedirs(os.path.dirname(_results_store(args.workload)), exist_ok=True)
            with open(_results_store(args.workload), "a") as f:
                f.write(json.dumps({"seed": args.seed, "op_wall_s": op_wall}) + "\n")

    shutil.rmtree(run_out, ignore_errors=True)
    marks = list(phase.items())
    detail["phase_s"] = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    detail["phase_s"]["total"] = time.perf_counter() - phase["start"]
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
