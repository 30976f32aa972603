"""One trial of a workload, in a process of its own.

    python3 perfbench/trial.py <config.json> <trial-number> <result.json>

``run.py`` starts this once per trial, in a new process group, and kills
the group when it returns, so every trial pays interpreter start-up,
package import, JVM launch and registry load, and nothing carries over
between trials. The trial sets up (session, registry, every table
footer), runs one pass of the workload, samples peak memory, runs the
checks that need Spark (trial 0 only), and writes its record to
``result.json``. It never prints to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_pid() -> int:
    """The Spark JVM: the child of this process running ``java``."""
    me = os.getpid()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if int(rest.split()[1]) == me and comm.endswith("(java"):
            return int(name)
    raise RuntimeError("no Spark JVM below this process")


def _setup(conf: dict, sf_dir: str, cores: int) -> tuple:
    """Session up, registry loaded, every table footer read. Returns
    (spark, {component: seconds})."""
    from etl_pipeline_with_alpha_vantage_spark import catalog, registry
    from etl_pipeline_with_alpha_vantage_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    for name in catalog.TABLES:
        catalog.table(spark, sf_dir, name)
    t3 = time.perf_counter()
    return spark, {"session": t1 - t0, "registry": t2 - t1, "footers": t3 - t2}


def _flush_event_log(spark, path: str, timeout: float = 60.0) -> None:
    """Run one marker job and wait until its end is in the event log. The
    listener bus is FIFO, so every event of the pass is on disk by then."""
    sc = spark.sparkContext
    sc.setJobGroup("bench:flush", "")
    spark.range(1).count()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        job, ended = None, False
        with open(path) as f:
            for line in f:
                if '"bench:flush"' in line and "SparkListenerJobStart" in line:
                    job = json.loads(line)["Job ID"]
                elif job is not None and '"SparkListenerJobEnd"' in line:
                    ended = ended or json.loads(line)["Job ID"] == job
        if ended:
            return
        time.sleep(0.1)
    raise RuntimeError("event log did not catch up")


def main() -> int:
    cfg_path, trial, out_path = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    import gen
    import spans
    import workloads

    size, data = cfg["size"], cfg["data"]
    if cfg["workload"] == "daily_etl":
        data["spec"] = gen.LakeSpec(
            cfg["seed"], size["symbols"], size["days"], size["history"],
            size["bad_share"], size["missing_share"])
    tracer = spans.Tracer(bool(cfg["trace"]))
    if cfg["trace"]:
        tracer.install_rpc_counter()
    ctx = workloads.Ctx(tracer, size, data, cfg["seed"], cfg["perturb"],
                        cfg["expected"])

    spark, parts = _setup(cfg["conf"], data["sf_dir"], cfg["cores"])
    setup_end = time.monotonic()
    ctx.spark = tracer.spark = spark
    workloads.WORKLOADS[cfg["workload"]](ctx, trial)
    # Read before the post-pass checks, which run extra jobs.
    rss = _vm_hwm_mb(_jvm_pid()) + _vm_hwm_mb("self")
    if trial == 0:
        workloads.CHECKS[cfg["workload"]](ctx)
    sc = spark.sparkContext
    rec = {
        "setup_end": setup_end, "setup_parts": parts, "rss_mb": rss,
        "wall_s": sum(tracer.op_time(o) for o in tracer.ops),
        "ops": [{"name": o.name, "ok": o.ok, "error": o.error,
                 "latency": tracer.op_time(o)} for o in tracer.ops],
        "checks": ctx.checks, "layers": ctx.layers,
        "versions": {"pyspark": spark.version,
                     "java": sc._jvm.System.getProperty("java.version"),
                     "python": sys.version.split()[0]},
    }
    if cfg["trace"]:
        log = os.path.join(cfg["conf"]["spark.eventLog.dir"],
                           sc.applicationId)
        if not os.path.exists(log):
            log += ".inprogress"
        _flush_event_log(spark, log)
        rec["records"] = spans.split_ops(tracer, spans.read_event_log(log))
        tracer.write(os.path.join(
            cfg["traces"],
            f"{cfg['workload']}-seed{cfg['seed']}-trial{trial}.json"),
            {"workload": cfg["workload"], "seed": cfg["seed"],
             "trial": trial, "records": rec["records"]})
    with open(out_path + ".tmp", "w") as f:
        json.dump(rec, f)
    os.replace(out_path + ".tmp", out_path)
    return 0


if __name__ == "__main__":
    # The JVM and its Python workers are killed with this process group by
    # run.py; a graceful stop could block on streaming state maintenance.
    try:
        code = main()
    except BaseException:
        import traceback

        traceback.print_exc()
        code = 1
    sys.stderr.flush()
    os._exit(code)
