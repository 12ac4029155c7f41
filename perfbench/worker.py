"""One benchmark run in a fresh process: session, validation run(s), gate.

Started by ``run.py`` with a JSON job description; writes a JSON result
file. Times are ``time.monotonic()`` readings, which are comparable
across processes on one host, so ``setup_s`` counts from the moment
``run.py`` spawned this process.
"""

from __future__ import annotations

import contextlib
import io
import json
import statistics
import sys
import time


def _json_line(text: str) -> dict:
    lines = [ln for ln in text.splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else {}


def _jvm_rchar(spark) -> int:
    """Bytes the driver JVM has read through read syscalls (files and
    sockets). Spark's own input-bytes metric misses the parquet reader's
    vectored reads, so the run's scan volume is taken from the kernel."""
    pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    with open(f"/proc/{pid}/io") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith("rchar:"))


def main(job_path: str) -> int:
    with open(job_path) as f:
        job = json.load(f)
    import workloads  # beside this file; bigdime_spark comes from PYTHONPATH

    from bigdime_spark import cli
    from bigdime_spark.session import ENGINE_CONFS, get_spark
    from bigdime_spark.sources.tables import read_table

    w = workloads.WORKLOADS[job["workload"]]
    seed, fx, out = job["seed"], job["fixture"], job["out"]
    java_opts = " ".join(
        filter(None, (ENGINE_CONFS.get("spark.driver.extraJavaOptions"), f"-Djava.io.tmpdir={job['tmp']}"))
    )
    t_session = time.monotonic()
    spark = get_spark(
        "perfbench",
        master=f"local[{job['cores']}]",
        extra_confs={
            "spark.driver.memory": job["heap"],
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": job["tmp"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_start_s = time.monotonic() - t_session
    inputs = [f"{fx}/raw", f"{fx}/manifest"] + ([f"{fx}/curated"] if w.curated else [])
    for ref in inputs:
        read_table(spark, ref).schema  # noqa: B018 - opens the table (file listing)
    t_ready = time.monotonic()

    tracer = None
    if job["trace"]:
        import spans

        tracer = spans.Tracer(spark)
        tracer.install()

    runs: list[dict] = []
    t_measure = time.monotonic()
    while not runs or time.monotonic() - t_measure < job["seconds"]:
        run_id = f"perfbench-{w.name}-s{seed}-{len(runs)}"
        workloads.reset_run_dir(w, fx, out)
        buf = io.StringIO()
        error = None
        rc = None
        span = tracer.open("cli") if tracer and not runs else None
        rchar0 = _jvm_rchar(spark)
        t0 = time.monotonic()
        try:
            with contextlib.redirect_stdout(buf):
                rc = cli.main(workloads.cli_args(w, seed, fx, out, run_id))
        except Exception as exc:  # noqa: BLE001 - a raising run is a failed run
            error = f"{type(exc).__name__}: {exc}"
        wall = time.monotonic() - t0
        if span is not None:
            tracer.close(span)
            tracer.uninstall()
            jvm_read_bytes = _jvm_rchar(spark) - rchar0
        spark.catalog.clearCache()  # the CLI never releases the suite's persisted frames
        summary = _json_line(buf.getvalue())
        problems = [error] if error else workloads.check(w, seed, out, rc, summary, run_id)
        runs.append({"wall_s": wall, "rc": rc, "rows": summary.get("rows_scanned", 0), "problems": problems})

    result = {
        "setup_s": t_ready - job["t_spawn"],
        "session_start_s": session_start_s,
        "cold_run_s": runs[0]["wall_s"],
        "rows": runs[0]["rows"],
        "steady_run_s": statistics.median(r["wall_s"] for r in runs[1:]) if len(runs) > 1 else None,
        "runs": runs,
    }
    if tracer is not None:
        tracer.harvest()
        result["layers"] = spans.layer_metrics(
            tracer, jvm_read_bytes, workloads.input_bytes(w, seed, fx), job["cores"]
        )
        result["spans"] = [vars(s) for s in tracer.spans]
    with open(job["result"], "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
