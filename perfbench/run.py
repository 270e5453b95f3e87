"""Lake-engine benchmark: one command, seeded closed-loop workloads.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. Prints one JSON
report line with every figure by name, then, as the last line, the
result object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_lake_construction_and_querying_with_pyspark_spark"
WORK = os.path.join(HERE, "_work")
CACHE = os.path.join(HERE, "_cache")
DRIVER_MEMORY = "4g"

WORKLOADS = {
    "interactive_sql": ("sql",),
    "lake_batch": ("etl", "curation"),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="operation time to measure")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-fault", choices=("drop_row",), default=None,
                   help="corrupt one result (drop a row) to show the checks count it as a failure")
    return p.parse_args(argv)


def configure_environment() -> dict:
    """Size the engine to this host and keep every file the run writes
    under the benchmark's scratch directory. Returns the Spark conf."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_TASK_RETRIES", None)
    return {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], _children(pid)
    while todo:
        c = todo.pop()
        seen.append(c)
        todo += _children(c)
    return seen


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def stop_everything(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process this run started."""
    procs = descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # keep going: the processes must still be stopped
            print(f"spark.stop failed: {e}", file=sys.stderr)
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception as e:
            print(f"gateway shutdown failed: {e}", file=sys.stderr)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def layer_metrics(tracer, state, run, rep) -> dict:
    import spans as tr
    import workloads as wl

    def med(name, phase="timed"):
        xs = tracer.durations_ms(name, phase)
        return statistics.median(xs) if xs else 0.0

    m = {
        "session.get_spark_s": med("session.get_spark", "setup") / 1000.0,
        "readers.register_views_ms": med("readers.register_views", "setup"),
    }
    timed = [s for s in tracer.spans if s.phase == "timed" and s.name.startswith("registry.")]
    reg_build = [s.ms for s in timed if s.name.endswith(".build")]
    reg_exec = [s.ms for s in timed if s.name.endswith(".execute")]
    m["registry.build_ms"] = statistics.median(reg_build) if reg_build else 0.0
    m["registry.execute_ms"] = statistics.median(reg_exec) if reg_exec else 0.0
    for name in wl.SQL_REGISTRY + wl.CURATION_OPS:
        m[f"registry.{name}.build_ms"] = med(f"registry.{name}.build")
        m[f"registry.{name}.execute_ms"] = med(f"registry.{name}.execute")
    m["sql.build_ms"] = med("sql.build")
    m["sql.execute_ms"] = med("sql.execute")
    for name in wl.CURATION_OPS:
        m[f"op.{name}.ms"] = med(name)
    n_ops = len(tracer.op_stats)
    for f in tr.STAGE_FIELDS:
        m[f"spark.{f}"] = sum(s[f] for s in tracer.op_stats) / n_ops if n_ops else 0.0
    for span, key in (("pipeline.run_job", "pipeline.run_job_ms"), ("readers.read_lake", "readers.read_lake_ms"),
                      ("validation.validate", "validation.validate_ms"), ("cleaning.clean", "cleaning.clean_ms"),
                      ("sinks.write_lake", "sinks.write_lake_ms"),
                      ("catalog.register_table", "catalog.register_table_ms")):
        m[key] = med(span)
    for meth in ("append", "merge_upsert", "delete_where", "compact", "read"):
        m[f"acid.{meth}_ms"] = med(f"acid.{meth}")
    m["acid.files_skipped_ratio"] = state.extra.get("files_skipped_ratio", 0.0)
    m["acid.bytes_written_per_user_byte"] = state.extra.get("bytes_written_per_user_byte", 0.0)
    m["operators.leaked_rdds"] = float(run["leaked_rdds"])
    m["trace.overhead_ms"] = tracer.overhead_s * 1000.0 / n_ops if n_ops else 0.0
    m["trace.op_geomean_ms"] = rep["op_geomean_ms"] or 0.0
    return m


def declared_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG!r} not found next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    shutil.rmtree(WORK, ignore_errors=True)
    conf = configure_environment()

    import lakegen
    import workloads as wl
    from spans import Tracer

    phases = WORKLOADS[args.workload]
    end_to_end, per_layer = declared_units()
    lake_dir = lakegen.check_lake()
    os.makedirs(CACHE, exist_ok=True)
    oracle_cache = os.path.join(CACHE, f"oracle-{lakegen.LAKE_DIGEST[:16]}.json")
    tracer = Tracer() if args.trace else None
    bench = None
    try:
        bench = wl.Bench(args, lake_dir, WORK, oracle_cache, tracer, conf)
        run = bench.run(phases)
        jvm = getattr(bench.spark.sparkContext._gateway, "proc", None)
        rep = wl.summarize(bench.state, run, phases, getattr(bench, "job_rows", 0))
        rep["peak_rss_mb"] = peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm is not None else []))
        layers = layer_metrics(tracer, bench.state, run, rep) if tracer is not None else None
    finally:
        if tracer is not None:
            tracer.restore()
        if bench is not None:
            bench.oracle.close()
        stop_everything(bench.spark if bench is not None else None)
        shutil.rmtree(WORK, ignore_errors=True)

    state = bench.state
    env = {
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"], "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "lake_dir": lake_dir, "input_digest": run["input_digest"],
    }
    print(json.dumps({"report": rep, "env": env, "failures": state.failures[:20]}))
    if tracer is None:
        metrics = {k: (rep[k], u) for k, u in end_to_end.items()}
    else:
        if layers.keys() != per_layer.keys():
            raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: {layers.keys() ^ per_layer.keys()}")
        metrics = {k: (layers[k], u) for k, u in per_layer.items()}
    print(json.dumps({
        "correct": not state.failures,
        "attempted": state.attempted,
        "failed": state.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
