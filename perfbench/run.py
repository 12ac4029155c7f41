"""Benchmark of the bigdime_spark validation engine.

    python3 perfbench/run.py --workload bulk_dirty --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Builds the workload's fixture from
``--seed`` (cached under ``.perfbench_work/``), then starts one fresh
worker process that sets up a Spark session (``local[<cores>]``, driver
heap below physical RAM) and drives ``bigdime_spark.cli.main(["run",
...])``: the first validation run in the new JVM, which is what a
nightly spark-submit job pays. Further runs follow until ``--seconds``
have passed; they are reported as information only. Every run is
checked against the workload's oracle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a traced run with ``--trace 1``. A human
report goes to stderr and to ``.perfbench_work/reports/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = ".perfbench_work"
DEADLINE_S = 165  # the whole run, fixture build included, must end by then

END_TO_END = {
    "setup_s": "s",
    "cold_run_s": "s",
    "images_per_s": "1/s",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _heap() -> str:
    """A quarter of physical RAM, at most 2 GiB: far below the RAM of
    a shared host, ample for the fixtures here."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(2048, total_mb // 4)}m"


def _proc_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, per pid
    (index 0 is the state, 1 the parent pid, 3 the session id)."""
    stat: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat[int(entry)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process exited while we listed
    return stat


def _descendants(stat: dict[int, list[str]], root: int) -> set[int]:
    tree = {root}
    grew = True
    while grew:
        kids = {p for p, st in stat.items() if int(st[1]) in tree and p not in tree}
        tree |= kids
        grew = bool(kids)
    return tree - {root}


def _tree_rss_kb(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (the Python driver,
    its JVM and the JVM's Python workers), from /proc."""
    stat = _proc_stats()
    tree = _descendants(stat, root) | {root}
    return sum(int(stat[p][21]) for p in tree if p in stat) * os.sysconf("SC_PAGE_SIZE") // 1024


def _become_subreaper() -> None:
    """Make orphaned descendants (the JVM outlives the worker that
    launched it by a moment) children of this process, so they can be
    waited for. Linux only; elsewhere the session scan below still finds
    them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_all(session: int, grace: float) -> None:
    """Wait up to ``grace`` seconds for every process this run started to
    exit on its own (the worker's session: the JVM and the Python
    workers, which move to process groups of their own; and every
    descendant of this process), then kill the rest, and return only
    once none is left."""
    deadline = time.monotonic() + grace
    while True:
        _reap()
        stat = _proc_stats()
        left = {p for p, st in stat.items() if int(st[3]) == session and p != os.getpid()}
        left |= _descendants(stat, os.getpid())
        alive = {p for p in left if stat.get(p, ["Z"])[0] != "Z"}
        if not alive and not any(int(stat[p][1]) == os.getpid() for p in left if p in stat):
            return  # nothing running, and no zombie of ours left to reap
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def _run_worker(job: dict, log_path: str, timeout: float) -> tuple[int | None, int]:
    """Run the worker; returns (exit code or None on timeout, peak tree RSS kB).
    Every process the worker started has ended when this returns."""
    peak = 0
    env = job.pop("env")
    with open(log_path, "w") as log:
        job["t_spawn"] = time.monotonic()
        with open(job["job_path"], "w") as f:
            json.dump(job, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), job["job_path"]],
            stdout=log,
            stderr=subprocess.STDOUT,
            env=env,
            start_new_session=True,
        )
        deadline = time.monotonic() + timeout
        timed_out = False
        try:
            while proc.poll() is None and not timed_out:
                peak = max(peak, _tree_rss_kb(proc.pid))
                # sample once a second: each sample reads every /proc/<pid>/stat,
                # and five a second take an eighth of a core from the timed run
                with contextlib.suppress(subprocess.TimeoutExpired):
                    proc.wait(timeout=1.0)
                timed_out = time.monotonic() > deadline
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _stop_all(proc.pid, grace=0 if timed_out else 5)
    return (None if timed_out else proc.returncode), peak


def _append_result(record: dict) -> list[dict]:
    """Append to the checkout's result log; return the earlier records."""
    path = f"{WORK}/results.jsonl"
    earlier = []
    if os.path.isfile(path):
        with open(path) as f:
            earlier = [json.loads(ln) for ln in f if ln.strip()]
    with open(path, "a") as f:
        f.write(json.dumps(record) + "\n")
    return earlier


def _report(name: str, lines: list[str]) -> None:
    os.makedirs(f"{WORK}/reports", exist_ok=True)
    text = "\n".join(lines) + "\n"
    with open(f"{WORK}/reports/{name}.txt", "w") as f:
        f.write(text)
    sys.stderr.write(text)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.monotonic()
    _become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):  # unwind through _run_worker's cleanup
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bigdime_spark", "cli.py")):
        print("perfbench: run from the root of a bigdime_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]

    t_fx = time.monotonic()
    fx = workloads.ensure_fixture(WORK, w, args.seed)
    for other in os.listdir(f"{WORK}/fixtures"):  # keep one fixture: disk stays bounded
        if os.path.join(WORK, "fixtures", other) != fx:
            shutil.rmtree(os.path.join(WORK, "fixtures", other), ignore_errors=True)
    os.sync()  # write the fixture back now, not while the run is timed
    fixture_s = time.monotonic() - t_fx

    run_dir = os.path.abspath(f"{WORK}/runs/{w.name}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PYTHONPATH=root, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp)
    job = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "fixture": os.path.abspath(fx),
        "out": os.path.join(run_dir, "out"),
        "tmp": tmp,
        "cores": _cores(),
        "heap": _heap(),
        "result": os.path.join(run_dir, "result.json"),
        "job_path": os.path.join(run_dir, "job.json"),
        "env": env,
    }
    if os.path.exists(job["result"]):
        os.remove(job["result"])
    log_path = os.path.join(run_dir, "worker.log")
    rc, peak_kb = _run_worker(job, log_path, DEADLINE_S - (time.monotonic() - t_begin))
    if rc != 0 or not os.path.isfile(job["result"]):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        print(f"perfbench: worker failed (exit {rc}); log tail:\n{tail}", file=sys.stderr)
        return 1
    with open(job["result"]) as f:
        res = json.load(f)

    runs = res["runs"]
    failed = sum(1 for r in runs if r["problems"])
    e2e = {
        "setup_s": res["setup_s"],
        "cold_run_s": res["cold_run_s"],
        "images_per_s": res["rows"] / res["cold_run_s"],
    }
    record = {
        "workload": repr(w),
        "seed": args.seed,
        "trace": args.trace,
        "cold_run_s": res["cold_run_s"],
        "setup_s": res["setup_s"],
    }
    earlier = _append_result(record)

    lines = [
        f"# perfbench {w.name} seed={args.seed} trace={args.trace} "
        f"cores={job['cores']} heap={job['heap']} closed loop, 1 client",
        f"#   fixture: {fixture_s:.2f} s to build or reuse, "
        f"{workloads.fixtures.disk_bytes(fx) / 2**20:.1f} MiB on disk (information only)",
        f"#   runs: {len(runs)} attempted, {failed} failed, error_rate {failed / len(runs):.3f}",
    ]
    for r in runs:
        for p in r["problems"]:
            lines.append(f"#   INCORRECT: {p}")
    if res["steady_run_s"] is not None:
        lines.append(f"#   steady run (information only): median {res['steady_run_s']:.3f} s of {len(runs) - 1}")
    for k, unit in END_TO_END.items():
        lines.append(f"#   {k:<14} {e2e[k]:12.4f} {unit}")
    lines.append(f"#   peak RSS of the worker's process tree: {peak_kb / 1024:.1f} MB")

    if args.trace:
        layer = dict(
            res["layers"],
            **{"session.start_s": res["session_start_s"], "process.peak_rss_mb": peak_kb / 1024},
        )
        untraced = [r["cold_run_s"] for r in earlier if r["workload"] == repr(w) and not r["trace"]]
        if untraced:
            base = statistics.median(untraced)
            lines.append(
                f"#   tracing overhead: {layer['trace.run_s'] - base:+.3f} s "
                f"(traced run {layer['trace.run_s']:.3f} s vs untraced median {base:.3f} s of {len(untraced)})"
            )
        else:
            lines.append("#   tracing overhead: no untraced run of this workload in this checkout yet")
        shares = {
            k: layer[k]
            for k in (
                "cli.self_s",
                "plans.suite.self_s",
                "operators.decode.s",
                "operators.keyed.s",
                "operators.drift.s",
                "operators.stats.s",
                "plans.lineage.resume_s",
                "plans.lineage.append_s",
                "sources.write_s",
            )
        }
        top = max(shares, key=shares.get)
        lines.append(
            f"#   largest share of the run: {top} {shares[top]:.3f} s "
            f"({shares[top] / layer['trace.run_s']:.0%} of {layer['trace.run_s']:.3f} s)"
        )
        for k in sorted(layer):
            lines.append(f"#   {k:<40} {layer[k]:16.4f}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    _report(f"{w.name}-s{args.seed}-t{args.trace}", lines)
    if args.trace:
        with open(f"{WORK}/reports/{w.name}-s{args.seed}-spans.json", "w") as f:
            json.dump(res["spans"], f)
    print(json.dumps({"correct": failed == 0, "attempted": len(runs), "failed": failed, "metrics": metrics}))
    return 0


def unit_of(metric: str) -> str:
    if metric.endswith("_per_task_s"):
        return "1/s"
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_ratio", "_per_payload_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
