"""Benchmark entry point: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the repository root.

Prepares the workload's inputs and expected outputs, then starts one
fresh worker process that sets up the engine and runs the passes.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A full report
(host, inputs, every pass, failures, spans) goes to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import procmem
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170  # a run must end within 180 s


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_jiffies() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class PeakRss:
    """Samples the process tree under one pid; ``peak_mb`` is the largest
    sum of per-process peak RSS (VmHWM) seen over its live processes."""

    def __init__(self, pid: int, interval: float = 0.25) -> None:
        self.pid, self.interval = pid, interval
        self.peak_mb = 0.0
        self.peak_by_command: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            by_command = procmem.tree_mb(self.pid, "VmHWM")
            if sum(by_command.values()) > self.peak_mb:
                self.peak_mb, self.peak_by_command = sum(by_command.values()), by_command

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def start_worker(args, spec_path: str, out_path: str, log_path: str, env: dict):
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--spec", spec_path, "--out", out_path,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    with open(log_path, "ab") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
    return proc, t_spawn


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM, the
    Python workers) and wait until the group is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:  # orphans of the group are re-parented to us (subreaper)
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def wait_worker(proc: subprocess.Popen, out_path: str, deadline: float,
                rss: PeakRss | None = None) -> dict:
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 0))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if rss is not None:
            rss.stop()
        stop_group(proc)
    if code != 0 or not os.path.exists(out_path):
        raise RuntimeError(f"worker exited with {code}; see {os.path.dirname(out_path)}/worker.log")
    with open(out_path) as fh:
        return json.load(fh)


def declared(section: str, values: dict) -> dict:
    """The metrics BENCHMARK.json declares for ``section``, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = json.load(fh)[section]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        raise KeyError(f"no value for declared metrics {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}


def summary(values: list[float]) -> dict:
    return {"n": len(values), "median": statistics.median(values), "min": min(values),
            "max": max(values), "values": values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", metavar="JOB",
                    help="drop one row of JOB's result before its check (tests the checks)")
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    # Become the reaper of orphaned descendants (PR_SET_CHILD_SUBREAPER),
    # so the JVM a worker leaves behind can be waited for.
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    # A SIGTERM unwinds through wait_worker's cleanup like Ctrl-C does.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "lua_mapreduce_spark", "__init__.py")):
        return fail(f"the engine package lua_mapreduce_spark is not under {ROOT}")
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    if args.workload != "mr_corpus" and not os.path.isdir(workloads.fixed_sf_dir()):
        return fail(f"testdata directory {workloads.fixed_sf_dir()} is missing")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(STATE, "run", tag)
    shutil.rmtree(os.path.join(STATE, "run"), ignore_errors=True)
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)

    spec = workloads.prepare(args.workload, args.seed, os.path.join(run_dir, "input"))
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)

    cores = nproc()
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "TMPDIR": tmp_dir,
        "SPARK_LOCAL_DIRS": tmp_dir,
        # Keep the JVMs' temp files (and no hsperfdata in /tmp) in the run dir.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "PYTHONHASHSEED": "0",
    })
    log_path = os.path.join(run_dir, "worker.log")

    try:
        main_out = os.path.join(run_dir, "main.json")
        cpu0 = cpu_jiffies()
        proc, t_spawn = start_worker(args, spec_path, main_out, log_path, env)
        rss = PeakRss(proc.pid) if args.trace else None
        res = wait_worker(proc, main_out, t_start + RUN_TIMEOUT_S, rss)
        t_exit = time.monotonic()
        cpu = [b - a for a, b in zip(cpu0, cpu_jiffies())]
        timeline = {"prepare_s": t_spawn - t_start, "setup_s": res["t_ready"] - t_spawn,
                    "passes_s": res["t_done"] - res["t_ready"], "exit_s": t_exit - res["t_done"]}
    except RuntimeError as exc:
        return fail(str(exc))

    attempted, failed = res["attempted"], len(res["failures"])
    untraced = [p["seconds"] for p in res["warm"] if not p["traced"]]
    # Pass times still fall over the first warm passes (JIT, worker reuse);
    # the steady state is the later half.
    steady = untraced[len(untraced) // 2:]
    warm_s = statistics.median(steady)
    records = sum(j["records"] for j in spec["jobs"])
    e2e = declared("end_to_end", {
        "setup_s": timeline["setup_s"],
        "first_pass_s": res["first_pass_s"],
        "warm_pass_s": warm_s,
        "records_per_s": records / warm_s,
        "retained_rss_mb": sum(res["rss_after_gc_mb"].values()),
        "ok_ratio": 1 - failed / attempted,
    })
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {**res["host"], "nproc": cores, "mem_total_mb": round(mem_total_mb()),
                 "python": platform.python_version(),
                 # Share of the host's CPU time taken by its hypervisor
                 # while the worker ran: a cause of run-to-run drift.
                 "steal_share": cpu[7] / max(sum(cpu[:8]), 1)},
        "inputs": spec["inputs"], "jobs": [j["name"] for j in spec["jobs"]],
        "records_per_pass": records,
        "timeline": timeline, "first_pass_s": res["first_pass_s"],
        "first_pass_jobs": res["first_pass_jobs"],
        "warm_passes": res["warm"], "warm_pass_s": summary(steady),
        "retained_rss_by_command_mb": res["rss_after_gc_mb"],
        "attempted": attempted, "failed": failed, "failed_ratio": failed / attempted,
        "failures": res["failures"],
        "end_to_end": e2e,
    }
    metrics = e2e
    if args.trace:
        layers = {**res["setup_layers"], "trace.overhead_s": res["trace_overhead_s"],
                  "memory.peak_rss_mb": rss.peak_mb}
        report["peak_rss_by_command_mb"] = rss.peak_by_command
        for key in res["layers"][0]:
            layers[key] = statistics.median(m[key] for m in res["layers"])
        metrics = declared("per_layer", layers)
        report["per_layer"] = metrics
        report["per_layer_passes"] = res["layers"]
        with open(os.path.join(out_dir, f"spans-{tag}.json"), "w") as fh:
            json.dump(res["spans"], fh)
    with open(os.path.join(out_dir, f"report-{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    shutil.rmtree(os.path.join(STATE, "run"), ignore_errors=True)
    for f in res["failures"][:20]:
        print(f"FAILED pass {f['pass']} {f['job']}: {f['reason']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
