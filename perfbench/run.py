"""The repo benchmark: ``python3 perfbench/run.py`` from the repo root.

    python3 perfbench/run.py --workload crawl_default --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload in turn

For each workload it builds the seeded input (cached per workload and
seed under ``.perfbench_cache/``), computes the oracle's expected output,
then runs the job in a fresh interpreter and JVM (``perfbench/worker.py``;
``iot_report`` pools the passes of two in a row) while sampling the
memory of that process tree. It checks the
outputs, prints every metric by name and unit, writes a result record
with provenance, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and a span file is written next to the record. A traced run first runs
one JVM as an untraced run does, UI off, and compares the traced full
pass's CPU with its passes (``trace.overhead_frac``, median to median).

End-to-end metrics (median over the timed passes of one run):
  rows_per_s      input rows / median pass wall time
  cpu_us_per_row  CPU of the driver process, its JVM and the Python
                  workers per input row, median pass
  setup_s         session start until the warm-up passes are done
                  (JVM start, worker fork, model load, JIT); median over
                  the run's JVMs
  peak_rss_mb     peak resident memory of that process tree over a JVM's
                  life, as summed proportional set size (shared pages
                  count once); median over the run's JVMs
``error_rate`` (failed / attempted passes) is printed too; a pass whose
output check fails counts as failed, and any failure exits non-zero.

Exit codes: 0 ok, 1 an output check failed, 2 not run from the root of
a checkout of the engine, 3 the job did not finish in time.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, proctree  # noqa: E402

CACHE = ".perfbench_cache"
DRIVER_MEMORY = "4g"  # session.py's 16g default does not fit a 15 GB host
JVM_OPTIONS = "-XX:-UsePerfData"  # no perf-data file outside the checkout
TIME_LIMIT_S = 170
# per workload: JVMs started one after another in a run, and warm-up
# passes in each. The six-metric report's JVM code settles on fast or slow
# compiled code per JVM, so its runs pool two JVMs' passes.
FORKS_WARMUP = {"crawl_default": (1, 5), "crawl_short_dupes": (1, 5),
                "iot_report": (2, 2)}
# A traced run starts with the first JVM of an untraced run (the baseline
# of trace.overhead_frac), then one traced JVM with TRACE_WARMUP warm-up
# passes before its legs.
TRACE_WARMUP = 3
E2E_UNITS = {"rows_per_s": "rows/s", "cpu_us_per_row": "us/row",
             "setup_s": "s", "peak_rss_mb": "MB"}
_REQUIRED = ("data_quality_assessment_spark/session.py", "tests/oracle.py",
             "__spark_entry__.py", "BENCHMARK.json")


def provenance(root: str) -> dict:
    """Which tree and host produced a result."""
    def git(*args):
        try:
            r = subprocess.run(["git", "-C", root, *args], capture_output=True,
                               text=True, timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout.strip() if r.returncode == 0 else None

    top = git("rev-parse", "--show-toplevel")
    in_repo = top is not None and os.path.realpath(top) == os.path.realpath(root)
    h = hashlib.sha256()
    for d in ("data_quality_assessment_spark", "perfbench"):
        for base, dirs, files in sorted(os.walk(os.path.join(root, d))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(base, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "git_sha": git("rev-parse", "HEAD") if in_repo else None,
        "git_dirty": (bool(git("status", "--porcelain", "--untracked-files=no"))
                      if in_repo else None),
        "source_sha256": h.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
                     "pandas": pandas.__version__, "duckdb": duckdb.__version__},
        "leftover_spark_jvms": proctree.spark_jvms(),
    }


def run_worker(spec: dict, run_dir: str, deadline: float) -> tuple[int | None, int]:
    """Run the worker; (exit code or None on timeout, peak tree PSS bytes).
    Every process of the worker's session is stopped and waited for."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        # Python workers import the package whatever their cwd
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY, "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"), "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
    })
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    peak, seen = 0, set()
    with open(os.path.join(run_dir, "worker.log"), "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", spec_path], cwd=run_dir,
            env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            pids, rescan = [proc.pid], 0.0
            while proc.poll() is None and time.monotonic() < deadline:
                if time.monotonic() >= rescan:
                    pids = proctree.tree(proc.pid)
                    seen.update(pids)
                    rescan = time.monotonic() + 0.5
                peak = max(peak, proctree.tree_pss_bytes(pids))
                time.sleep(0.2)
            code = proc.poll()
        finally:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(proc.pid, sig)
                end = time.monotonic() + 10
                while proctree.alive(sorted(seen)) and time.monotonic() < end:
                    time.sleep(0.1)
            proc.wait()
    return code, peak


def end_to_end(res: dict, rows: int) -> dict:
    ok = [p for p in res["passes"] if "error" not in p]
    return {
        "rows_per_s": rows / statistics.median(p["wall_s"] for p in ok),
        "cpu_us_per_row": statistics.median(p["cpu_s"] for p in ok) * 1e6 / rows,
        "setup_s": statistics.median(res["setup_s"]),
        "peak_rss_mb": statistics.median(res["peak_rss"]) / 2**20,
    }


def result_line(values: dict, units: dict, attempted: int, failed: int) -> dict:
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def run_workload(workload: str, seed: int, seconds: int, trace: bool,
                 t_start: float) -> int:
    cache = os.path.join(ROOT, CACHE)
    data_dir, meta = corpus.ensure(cache, workload, seed)
    rows = meta["properties"]["rows"]
    prov = provenance(ROOT)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_id = f"{stamp}-{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    run_dir = os.path.join(cache, "runs", run_id)
    for d in ("results", "traces"):
        os.makedirs(os.path.join(cache, d), exist_ok=True)
    spec = {
        "workload": workload, "data_dir": data_dir, "rows": rows,
        "out_dir": os.path.join(run_dir, "out"), "trace": trace,
        "run_id": run_id, "nproc": prov["nproc"],
        "warehouse_dir": os.path.join(run_dir, "warehouse"),
        "spans_path": os.path.join(cache, "traces", f"{run_id}.spans.json"),
    }
    forks, warmup = FORKS_WARMUP[workload]
    # (traced, warm-up passes, seconds of timed passes) per JVM
    plan = [(False, warmup, seconds / forks)] * forks
    if trace:
        plan = [plan[0], (True, TRACE_WARMUP, 0.0)]
    res: dict = {"passes": [], "warmup": [], "setup_s": [], "peak_rss": []}
    untraced_cpu: list[float] = []
    for k, (traced, fork_warmup, fork_seconds) in enumerate(plan):
        fork_dir = os.path.join(run_dir, f"fork{k}")
        os.makedirs(fork_dir)
        spec.update(trace=traced, seconds=fork_seconds, warmup_passes=fork_warmup,
                    result_path=os.path.join(fork_dir, "result.json"))
        code, peak = run_worker(spec, fork_dir, t_start + TIME_LIMIT_S)
        if code != 0:
            why = "timed out" if code is None else f"exited {code}"
            print(f"perfbench: {workload} worker {why}; log: "
                  f"{os.path.join(fork_dir, 'worker.log')}", file=sys.stderr)
            return 3 if code is None else 1
        with open(spec["result_path"]) as f:
            fork = json.load(f)
        res["passes"] += fork["passes"]
        if not traced:
            untraced_cpu += [p["cpu_s"] for p in fork["passes"] if "error" not in p]
        res["warmup"].append(fork["warmup"])
        res["setup_s"].append(fork["setup_s"])
        res["peak_rss"].append(peak)
        if traced:
            res["layers"] = fork["layers"]
        prov["spark_driver_memory"] = fork["driver_memory"]
        prov["spark_version"] = fork["spark_version"]

    passes = res["passes"]
    problems: list[str] = []
    if workload == "iot_report":
        failed = checks.iot_failed(passes, meta["expected"])
    else:
        problems = checks.compare_crawl(
            meta["expected"], checks.engine_sample(spec["out_dir"], rows)
        )
        failed = checks.crawl_failed(passes, problems)
    failed_passes = [p.get("error", "output check") for p in passes
                     if "error" in p] or problems
    if trace:
        values, units = res["layers"], _layer_units()
        # the traced full leg's median CPU against the untraced passes'
        full_cpu = values.pop("_full_cpu_s")
        if untraced_cpu:
            values["trace.overhead_frac"] = (
                full_cpu / statistics.median(untraced_cpu) - 1.0)
    elif failed < len(passes):
        values, units = end_to_end(res, rows), E2E_UNITS
    else:
        values, units = dict.fromkeys(E2E_UNITS, 0.0), E2E_UNITS
    line = result_line(values, units, len(passes), failed)

    record = {
        "run_id": run_id, "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "provenance": prov, "input": meta["properties"],
        "input_digest": meta["digest"], "input_files": meta["files"],
        "targets": meta["targets"], "passes": passes,
        "warmup": res["warmup"], "setups_s": res["setup_s"],
        "peak_pss_bytes": res["peak_rss"],
        "error_rate": failed / len(passes), "problems": failed_passes[:20],
        "result": line,
    }
    rec_path = os.path.join(cache, "results", f"{run_id}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    if failed == 0:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"== {workload}  seed={seed}  input={rows} rows in {meta['files']} files"
          f"  timed passes={len(passes)} in {len(plan)} JVM(s), warm-up passes"
          f" {[w for _, w, _ in plan]}  local[{prov['nproc']}]  trace={int(trace)}")
    for k, u in units.items():
        print(f"   {k:<34} {values[k]:>14.4f} {u}")
    print(f"   {'error_rate':<34} {failed / len(passes):>14.4f} fraction"
          f" ({failed}/{len(passes)} passes failed)")
    for p in failed_passes[:5]:
        print(f"   FAILED: {p}")
    print("   input: " + json.dumps(meta["properties"]))
    print("   provenance: " + json.dumps(prov))
    print(f"   record: {os.path.relpath(rec_path, ROOT)}")
    if trace:
        print(f"   spans: {os.path.relpath(spec['spans_path'], ROOT)}")
    print(json.dumps(line), flush=True)
    return 0 if failed == 0 else 1


def _layer_units() -> dict:
    from perfbench.worker import LAYER_UNITS

    return LAYER_UNITS


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default="all",
                   choices=[*corpus.WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = [f for f in _REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print("perfbench: run from the root of a checkout of the engine; "
              f"missing {', '.join(missing)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    names = corpus.WORKLOADS if args.workload == "all" else [args.workload]
    rc = 0
    for w in names:
        # "all" gives each workload its own time limit
        start = t_start if args.workload != "all" else time.monotonic()
        rc = max(rc, run_workload(w, args.seed, seconds, bool(args.trace), start))
    return rc


if __name__ == "__main__":
    sys.exit(main())
