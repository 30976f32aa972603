"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.perfbench/`` in the checkout, and the DuckDB oracle hashes computed
from them, before any trial. A run is at least three trials, more while
another fits in ``--seconds``. Each trial is a fresh process
(``trial.py``): it starts a Spark JVM on ``local[4]`` and loads the
registry (set-up), runs one pass of the workload through the package's
public calls, and is then killed with its JVM. Every operation is timed
from outside and its result checked against DuckDB or the generator
outside the timed region.

``--trace 0`` prints the end-to-end metrics, each a median over trials:

* ``setup_s``: trial process start until the session is up, the registry
  is loaded and every table footer has been read (interpreter start-up and
  package import included);
* ``wall_s``: first operation to last result of a pass, checks excluded;
* ``peak_rss_mb``: VmHWM of the trial's Spark JVM plus the trial process,
  read when its pass ends.

Operations that raise or fail a check are counted in ``failed`` against
``attempted`` (an operation is a registered query, or one step of the
daily job); their ratio is the failed fraction, 0 on a correct tree.

``--trace 1`` runs the same work with job groups, py4j counting and an
uncompressed event log, and prints the per-layer metrics instead. It also
checks that every operation's build, plan and exec spans cover at least
90% of its latency.

The line before the result carries the run environment (nproc, loadavg,
versions), sample counts and any failed checks. Exit status is 1 when any
check fails, 2 when the checkout or toolchain is unusable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_pipeline_with_alpha_vantage_spark"
CORES = 4
MIN_TRIALS = 3
TRIALS_BUDGET_S = 150  # all trials of a run; a trial still running is killed
COVERAGE_MIN = 0.9

SIZES = {
    "full": dict(
        base_sf=0.1, keep=0.25,
        symbols=200, days=5, history=250, bad_share=0.05, missing_share=0.1,
        landing_rows=40_000, landing_files=6, files_per_trigger=2,
        dup_share=0.02, late_share=0.01,
    ),
    "tiny": dict(
        base_sf=0.001, keep=0.5,
        symbols=12, days=2, history=20, bad_share=0.15, missing_share=0.25,
        landing_rows=2_000, landing_files=6, files_per_trigger=2,
        dup_share=0.05, late_share=0.05,
    ),
}

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}

LAYER_DEFAULTS = [
    "sources.cache_hit_ratio", "pipeline.payloads_read", "pipeline.valid_ratio",
    "pipeline.rows_out", "sinks.rows_appended", "sinks.files_written",
    "sinks.write_amp", "sinks.commit_retries", "streaming.batches",
    "streaming.input_rows", "streaming.rows_per_s", "streaming.batch_p50_s",
    "streaming.state_rows", "streaming.state_mb", "streaming.late_dropped",
]


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _pin_environment(work: str) -> dict:
    """Keep every file the run makes inside ``work`` and make executor
    Python workers import the checkout. Returns the Spark confs."""
    for sub in ("tmp", "jtmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    pypath = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": pypath,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CORES),
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    return {
        "spark.driver.memory": "4g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # A fixed heap and young generation: G1's adaptive resizing would
        # otherwise make the JVM's peak RSS vary ±15% between identical
        # trials.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/jtmp -XX:-UsePerfData -Xms4g -Xmn1g",
        "spark.executorEnv.PYTHONPATH": pypath,
    }


def _make_inputs(base: str, workload: str, seed: int, size_name: str,
                 size: dict) -> dict:
    """Generate the inputs of (workload, size, seed) once under
    ``base/inputs``; later runs with the same seed reuse them, because
    deleting a thousand-file lake costs seconds on a discard-mounted disk."""
    import gen

    d = os.path.join(base, "inputs", f"{workload}-{size_name}-seed{seed}")
    data = {"sf_dir": os.path.join(d, "star"), "lake": os.path.join(d, "lake"),
            "day2": os.path.join(d, "day2"),
            "landing": os.path.join(d, "landing")}
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(d, ignore_errors=True)  # a half-written earlier set
        made = {"rows": gen.write_star(data["sf_dir"], seed, size["base_sf"],
                                       size["keep"])}
        if workload == "daily_etl":
            spec = gen.LakeSpec(seed, size["symbols"], size["days"],
                                size["history"], size["bad_share"],
                                size["missing_share"])
            made["expected"] = gen.write_lake(data["lake"], data["day2"], spec)
            gen.write_landing(data["landing"], seed, size["landing_rows"],
                              size["landing_files"], size["dup_share"],
                              size["late_share"],
                              2 * size["files_per_trigger"])
        with open(manifest + ".tmp", "w") as f:
            json.dump(made, f)
        os.replace(manifest + ".tmp", manifest)
    with open(manifest) as f:
        data.update(json.load(f))
    return data


def _adopt_orphans() -> None:
    """Become the parent of this process's orphaned descendants (a killed
    trial's JVM and its workers), so ``_kill_group`` can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)


def _group_alive(pgid: int) -> bool:
    """Whether any process of group ``pgid`` exists, zombies included."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(rest[2]) == pgid:
            return True
    return False


def _kill_group(proc) -> None:
    """Kill a trial's process group (the trial, its JVM and the JVM's
    Python workers) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not _group_alive(proc.pid):
            return
        time.sleep(0.05)


def _remove_stale_work(base: str) -> None:
    """Delete work dirs left by runs that were killed."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.removeprefix("work-")
        if pid != name and pid.isdigit() and not os.path.exists(
                f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _failed_ops(ops: list, checks: list) -> int:
    """Operations that raised, or whose result failed a check."""
    bad = {c[0].split(":", 1)[1] if c[0].startswith("oracle:")
           else c[0].split(":", 1)[0] for c in checks if not c[1]}
    return sum(1 for o in ops if not o["ok"] or o["name"] in bad)


def _coverage_checks(recs: list) -> list:
    """A traced operation whose build, plan and exec spans leave more than
    10% of its latency unaccounted for fails a check."""
    out = []
    for r in recs:
        cov = 1 - r["self_s"] / r["latency"] if r["latency"] > 0 else 1.0
        out.append((f"{r['name']}:trace_coverage", cov >= COVERAGE_MIN,
                    f"trial {r['pass']}: {cov:.3f}"))
    return out


def _per_layer(trials: list, modules: list) -> dict:
    """Per-layer metrics: sums over a trial's operations, median over
    trials."""
    rows = []
    for t in trials:
        rs = t["records"]
        wall = sum(r["latency"] for r in rs)
        row = {
            "trace.wall_s": wall,
            "session.start_s": t["setup_parts"]["session"],
            "registry.load_s": t["setup_parts"]["registry"],
            "catalog.table_warm_s": t["setup_parts"]["footers"],
            "build.s": sum(r["build_s"] for r in rs),
            "build.py4j_calls": sum(r["build_rpc"] for r in rs),
            "build.jobs": sum(r["build"]["jobs"] for r in rs),
            "build.task_s": sum(r["build"]["task_s"] for r in rs),
            "plan.s": sum(r["plan_s"] for r in rs),
            "exec.s": sum(r["exec_s"] for r in rs),
        }
        for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                  "input_mb", "shuffle_read_mb", "shuffle_write_mb",
                  "spill_mb"):
            row[f"exec.{k}"] = sum(r["exec"][k] for r in rs)
        row["exec.task_skew"] = max(r["exec"]["task_skew"] for r in rs)
        row["exec.core_util"] = row["exec.task_s"] / (CORES * wall)
        for m in modules:
            row[f"operators.{m}.s"] = sum(
                r["latency"] for r in rs if r["module"] == m)
        by = {r["name"]: r for r in rs}

        def lat(*names):
            return sum(by[n]["latency"] for n in names if n in by)

        row["sources.fetch_s"] = lat("fetch")
        row["sinks.upsert_s"] = sum(by[n]["plan_s"] + by[n]["exec_s"]
                                    for n in ("load", "replay", "day2")
                                    if n in by)
        row["sinks.snapshot_commit_s"] = lat("snapshot", "recommit")
        row["streaming.tick_s"] = lat("stream")
        row["catalog.persisted_rdds"] = max(r["persisted_rdds"] for r in rs)
        row["catalog.persisted_mb"] = max(r["persisted_mb"] for r in rs)
        for k in LAYER_DEFAULTS:
            row[k] = t["layers"].get(k, 0.0)
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["trace.coverage_min"] = min(
        1 - r["self_s"] / r["latency"]
        for t in trials for r in t["records"] if r["latency"] > 0)
    return out


def _unit(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "util", "skew", "amp", "coverage_min")):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--perturb", action="store_true",
                    help="corrupt one expected value (self-test of the gate)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _fail(f"no {PACKAGE} package next to {os.path.basename(HERE)}/; "
              "run from the root of a full checkout")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        _fail(f"pyspark is not importable by {sys.executable}")
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}")

    # SIGTERM unwinds like an exception, so the running trial and the work
    # dir go too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _adopt_orphans()
    load_start = os.getloadavg()
    base = os.path.join(ROOT, ".perfbench")
    _remove_stale_work(base)
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    running: list = []
    try:
        return _run(args, workloads, work, base, load_start, running)
    finally:
        for proc in running:
            _kill_group(proc)
        shutil.rmtree(work, ignore_errors=True)


def _trial(i: int, cfg_path: str, work: str, running: list,
           timeout: float) -> tuple:
    """Run trial ``i`` in its own process group, its working directory
    ``work`` (derby.log and the like land there); returns (its record or
    None, its setup seconds measured from process start)."""
    local = os.path.join(work, f"local{i}")
    out = os.path.join(work, f"trial{i}.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    t_spawn = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "trial.py"), cfg_path, str(i),
         out], cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    running.append(proc)
    try:
        proc.wait(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        print(f"perfbench: trial {i} timed out", file=sys.stderr)
    _kill_group(proc)
    running.remove(proc)
    # Young shuffle files delete fast; old ones pay the disk's discard.
    shutil.rmtree(local, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    if proc.returncode != 0 and proc.returncode != -signal.SIGKILL \
            or not os.path.exists(out):
        return None, 0.0
    with open(out) as f:
        rec = json.load(f)
    return rec, rec["setup_end"] - t_spawn


def _run(args, workloads, work, base, load_start, running) -> int:
    conf = _pin_environment(work)
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    size = dict(SIZES[args.size], reports=workloads.REPORTS)
    t_gen = time.perf_counter()
    data = _make_inputs(base, args.workload, args.seed, args.size, size)
    data["out"] = os.path.join(work, "out")
    expected = workloads.expectations(args.workload, size, data)
    if args.perturb:
        k = next(iter(expected))
        expected[k] = "0" + expected[k][1:]
    gen_s = time.perf_counter() - t_gen
    cfg_path = os.path.join(work, "trial-config.json")
    with open(cfg_path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "perturb": args.perturb,
                   "cores": CORES, "size": size, "data": data,
                   "expected": expected, "conf": conf,
                   "traces": os.path.join(base, "traces")}, f)

    trials, setups, lost = [], [], 0
    t_trials = time.perf_counter()
    while len(trials) + lost < MIN_TRIALS or trials and (
            time.perf_counter() - t_trials
            + trials[-1]["wall_s"] + setups[-1] <= args.seconds):
        rec, setup_s = _trial(
            len(trials) + lost, cfg_path, work, running,
            TRIALS_BUDGET_S - (time.perf_counter() - t_trials))
        if rec is None:
            lost += 1
            continue
        trials.append(rec)
        setups.append(setup_s)

    ops = [o for t in trials for o in t["ops"]]
    checks = [tuple(c) for t in trials for c in t["checks"]]
    checks += [(f"trial{i}:completed", False, "no result")
               for i in range(lost)]
    if args.trace and trials:
        from etl_pipeline_with_alpha_vantage_spark import registry

        registry.load_all()
        checks += _coverage_checks([r for t in trials for r in t["records"]])
        modules = sorted({workloads.module_of(n) for n in workloads.REPORTS})
        values = _per_layer(trials, modules)
    elif trials:
        values = {
            "setup_s": statistics.median(setups),
            "wall_s": statistics.median(t["wall_s"] for t in trials),
            "peak_rss_mb": statistics.median(t["rss_mb"] for t in trials),
        }
    else:
        values = {}
    n_failed = _failed_ops(ops, checks) + lost
    correct = n_failed == 0 and all(c[1] for c in checks) and bool(trials)
    info = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "nproc": os.cpu_count(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        **(trials[0]["versions"] if trials else {}),
        "inputs": data["rows"], "gen_s": gen_s,
        "trials": len(trials), "trials_lost": lost,
        "setup_samples_s": setups,
        "trial_walls_s": [t["wall_s"] for t in trials],
        "trial_rss_mb": [t["rss_mb"] for t in trials],
        "trials_s": time.perf_counter() - t_trials,
        "latency_samples": len(ops),
        "checks": len(checks),
        "failed_checks": [c for c in checks if not c[1]],
        "op_errors": [(o["name"], o["error"]) for o in ops if not o["ok"]],
        "op_latency_s": {n: [o["latency"] for o in ops if o["name"] == n]
                         for n in dict.fromkeys(o["name"] for o in ops)},
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops) + lost,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": _unit(k)}
                    for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
