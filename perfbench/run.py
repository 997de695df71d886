"""End-to-end component benchmark: ``Component.run`` on generated
Keboola data dirs, checked against DuckDB, with a per-layer ledger.

    python3 perfbench/run.py --workload etl_sf01 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One invocation:

1. generates the workload's data dir from ``--seed`` (``gen.py``);
2. starts one fresh worker process (``worker.py``) that builds the
   SparkSession and runs the job cold, then warm for ``--seconds``;
3. replays the same config in DuckDB (``oracle.py``) and compares every
   run's exported tables with it;
4. prints one JSON line: the end-to-end metrics (``--trace 0``) or the
   per-layer metrics (``--trace 1``), named as in ``BENCHMARK.json``.

Load model: one closed-loop client, one job at a time. The config sets
``threads`` to the CPUs this process may use, which sizes both
``local[N]`` and the orchestrator pool. Everything the benchmark writes
stays under ``.perfbench_work/`` in the current directory; the traced
invocation leaves its spans in ``.perfbench_work/spans/``.

``--smoke`` runs every workload once per trace mode at sf0.001, checks
that every metric of ``BENCHMARK.json`` is printed with its unit and
that the oracle passes, and checks the generator's byte-determinism.
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
sys.path.insert(0, HERE)

ROOT = os.getcwd()
PACKAGE = "component_duckdb_transformation_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

#: one invocation must end within this many seconds
TIME_LIMIT_S = 170
#: reserved after the worker for the oracle replay and checks
ORACLE_RESERVE_S = 25

#: a warm ``Component.run`` of any workload takes about this long on 4
#: CPUs; it sets how many warm runs fill ``--seconds`` (worker.py says
#: why that count is fixed rather than clocked)
WARM_RUN_S = 5.0

#: warm runs of a traced invocation: a warm-up, then traced, plain,
#: plain, traced (``worker.is_traced``)
TRACED_WARM_RUNS = 5

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "stmts_per_s": "1/s",
    "peak_rss_mb": "MB",
    "bytes_written_per_input_byte": "B/B",
}


def warm_runs(seconds: float, trace: int) -> int:
    if trace:
        return TRACED_WARM_RUNS
    return max(3, round(seconds / WARM_RUN_S))


def _median(values):
    return statistics.median(values) if values else 0.0


def _layers(run: dict, statements: int, rows: int) -> dict:
    """Per-layer metrics of one traced run."""
    s, c = run["seconds"], run["counts"]
    query = s.get("executor.query", 0.0)
    batch = s.get("orchestrator.batch", 0.0)
    translate_calls = c.get("dialect.translate", 0)
    store_bytes = run["out_bytes"] - run["export_bytes"]
    covered = sum(
        s.get(k, 0.0)
        for k in ("sources.import", "validators.validate", "orchestrator.plan",
                  "orchestrator.batch", "sinks.export")
    )
    return {
        "sources.import_s": (s.get("sources.import", 0.0), "s"),
        "sources.tables": (c.get("sources.import", 0), "count"),
        "validators.validate_s": (s.get("validators.validate", 0.0), "s"),
        "sql_parser.parse_s": (s.get("sql_parser.parse", 0.0), "s"),
        "sql_parser.statements": (c.get("sql_parser.statements", 0), "count"),
        "orchestrator.plan_s": (s.get("orchestrator.plan", 0.0), "s"),
        "orchestrator.batches": (c.get("orchestrator.batch", 0), "count"),
        "orchestrator.batch_wall_s": (batch, "s"),
        "orchestrator.overlap": (query / batch if batch else 0.0, "x"),
        "dialect.translate_s": (s.get("dialect.translate", 0.0), "s"),
        "dialect.translate_calls": (translate_calls, "count"),
        "dialect.translate_ms_per_call": (
            1000.0 * s.get("dialect.translate", 0.0) / translate_calls
            if translate_calls else 0.0, "ms",
        ),
        "executor.query_s": (query, "s"),
        "executor.spark_sql_s": (s.get("executor.spark_sql", 0.0), "s"),
        "executor.residual_s": (
            query - s.get("dialect.translate@executor", 0.0)
            - s.get("executor.spark_sql", 0.0) - s.get("store.commit", 0.0), "s",
        ),
        "store.commit_s": (s.get("store.commit", 0.0), "s"),
        "store.commits": (c.get("store.commit", 0), "count"),
        "store.bytes_written": (store_bytes, "B"),
        "store.write_amp": (
            store_bytes / run["live_bytes"] if run["live_bytes"] else 0.0, "x",
        ),
        "sinks.export_s": (s.get("sinks.export", 0.0), "s"),
        "sinks.tables": (c.get("sinks.export", 0), "count"),
        "sinks.rows": (rows, "count"),
        "sinks.bytes": (run["export_bytes"], "B"),
        "spark.jobs": (run["spark.jobs"], "count"),
        "spark.jobs_per_stmt": (run["spark.jobs"] / statements, "count"),
        "spark.job_s": (run["spark.job_s"], "s"),
        "spark.tasks": (run["spark.tasks"], "count"),
        "spark.shuffle_bytes": (run["spark.shuffle_bytes"], "B"),
        # net of stolen time like run_s; coverage compares the spans
        # with the raw wall they were measured in
        "trace.run_s": (run["net"], "s"),
        "trace.coverage": (covered / run["wall"], "x"),
    }


def _end_to_end(result: dict, spec, warm: list) -> dict:
    """End-to-end metrics; times are net of stolen CPU time
    (``worker._net_s``)."""
    run_s = _median([r["net"] for r in warm])
    values = {
        "setup_s": result["setup_s"],
        "first_run_s": result["runs"][0]["net"],
        "run_s": run_s,
        "stmts_per_s": spec.statements / run_s,
        "peak_rss_mb": result["peak_rss_mb"],
        "bytes_written_per_input_byte": _median(
            [r["out_bytes"] for r in warm]
        ) / spec.input_bytes,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def _per_layer(result: dict, spec, warm: list, rows: dict) -> dict:
    traced = [r for r in warm if r["traced"]]
    plain = [r for r in warm if not r["traced"]]
    per_run = [_layers(r, spec.statements, rows[r["i"]]) for r in traced]
    metrics = {
        k: {"value": _median([m[k][0] for m in per_run]), "unit": unit}
        for k, (_, unit) in per_run[0].items()
    }
    # the wrappers' cost only: the UI and REST listeners are on for both
    # groups, as a session's UI setting cannot change once it is built
    metrics["trace.overhead_frac"] = {
        "value": _median([r["net"] for r in traced])
        / _median([r["net"] for r in plain]) - 1.0,
        "unit": "x",
    }
    return metrics


def _stop_leftovers(cwd: str, timeout: float = 30.0) -> None:
    """Wait for every process still running in ``cwd`` (the JVM and
    Spark's Python workers inherit the worker's cwd) and kill any that
    outlive ``timeout``."""
    deadline = time.time() + timeout
    while True:
        pids = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                if os.readlink(f"/proc/{pid}/cwd") == cwd:
                    pids.append(int(pid))
            except OSError:
                continue
        if not pids:
            return
        if time.time() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


def bench(args) -> int:
    import gen
    import oracle

    t_start = time.time()
    threads = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("runs", "tmp", "spark-local", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        spec = gen.generate(
            args.workload, args.seed, os.path.join(work, "data"), threads, sf=args.sf
        )
        print(f"# {args.workload} seed={args.seed} sha256={spec.digest} "
              f"input_bytes={spec.input_bytes} statements={spec.statements} "
              f"outputs={len(spec.outputs)}", file=sys.stderr)
        t_gen = time.time()
        env = dict(os.environ)
        # Spark's Python workers (pandas UDFs) import the package too
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        env["PYSPARK_PYTHON"] = sys.executable
        env["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
        env["TMPDIR"] = dirs["tmp"]
        result_path = os.path.join(work, "result.json")
        deadline = t_start + TIME_LIMIT_S - ORACLE_RESERVE_S
        # the JVM exits when the worker's end of its stdin pipe closes,
        # and Spark's Python workers exit with the JVM
        worker = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--data-dir", spec.data_dir, "--runs-dir", dirs["runs"],
             "--tmp-dir", dirs["tmp"], "--deadline", str(deadline),
             "--warm-runs", str(warm_runs(args.seconds, args.trace)),
             "--trace", str(args.trace),
             "--result", result_path],
            cwd=dirs["cwd"], env=env, stdout=sys.stderr,
        )
        try:
            rc = worker.wait(timeout=max(10.0, t_start + TIME_LIMIT_S - 5 - time.time()))
        finally:
            if worker.poll() is None:
                worker.kill()
                worker.wait()
            _stop_leftovers(os.path.realpath(dirs["cwd"]))
        if rc != 0:
            print(f"perfbench: worker exited with {rc}", file=sys.stderr)
            return 1
        with open(result_path, encoding="utf-8") as fh:
            result = json.load(fh)
        t_worker = time.time()

        con = oracle.replay(spec.data_dir, spec.oracle_overrides, threads)
        attempted = failed = 0
        rows = {}
        for r in result["runs"]:
            attempted += spec.statements + 2 * len(spec.outputs)
            rows[r["i"]] = 0
            if r["error"]:
                failed += 1
                print(f"# run{r['i']} failed: {r['error']}", file=sys.stderr)
            for table in spec.outputs:
                ok, n, detail = oracle.compare(
                    con, table, os.path.join(r["snapshot"], "tables", table)
                )
                rows[r["i"]] += n
                if not ok:
                    failed += 1
                    print(f"# run{r['i']} {table}: MISMATCH {detail}", file=sys.stderr)
        con.close()
        print(f"# phases gen={t_gen - t_start:.1f}s worker={t_worker - t_gen:.1f}s "
              f"oracle={time.time() - t_worker:.1f}s", file=sys.stderr)

        # run 0 is cold; a traced invocation spends run 1 on a warm-up
        warm = result["runs"][1 + args.trace:]
        for r in result["runs"]:
            print(f"# run{r['i']} wall={r['wall']:.3f}s net={r['net']:.3f}s "
                  f"cpu={r['cpu_s']:.2f}s "
                  f"traced={r['traced']} steal_jiffies={r['steal_jiffies']} "
                  f"load1={r['load1']:.2f}", file=sys.stderr)
        nets = sorted(r["net"] for r in warm if not r["traced"])
        print(f"# env {json.dumps(result['env'])}", file=sys.stderr)
        print(f"# setup wall={result['setup_wall']:.3f}s "
              f"net={result['setup_s']:.3f}s", file=sys.stderr)
        print(f"# warm runs n={len(nets)} median={_median(nets):.3f}s "
              f"max={nets[-1]:.3f}s (net; n<11: no percentile above the median "
              "has 10 samples beyond it)", file=sys.stderr)
        if args.trace:
            metrics = _per_layer(result, spec, warm, rows)
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.copy(
                os.path.join(dirs["runs"], "spans.jsonl"),
                os.path.join(WORK, "spans", f"{args.workload}-s{args.seed}.jsonl"),
            )
        else:
            metrics = _end_to_end(result, spec, warm)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


def smoke() -> int:
    """One sf0.001 run per workload and trace mode; checks the metric
    names and units against BENCHMARK.json, the oracle, and that the
    generator is byte-deterministic per seed."""
    import gen

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)
    problems = []
    for workload in gen.WORKLOADS:
        tmp = os.path.join(WORK, f"smoke-gen-{os.getpid()}")
        try:
            a = gen.generate(workload, 1, tmp, 4).digest
            b = gen.generate(workload, 1, tmp, 4).digest
            c = gen.generate(workload, 2, tmp, 4).digest
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        if a != b:
            problems.append(f"{workload}: same seed, different data dir")
        if a == c:
            problems.append(f"{workload}: seeds 1 and 2 give the same data dir")
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", workload,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace),
                 "--sf", "0.001"],
                stdout=subprocess.PIPE, text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{workload} trace={trace}: exit {proc.returncode}")
                continue
            out = json.loads(lines[-1])
            if not out["correct"]:
                problems.append(f"{workload} trace={trace}: oracle mismatch")
            want = {m["name"]: m["unit"] for m in declared[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if want != got:
                problems.append(f"{workload} trace={trace}: metrics {got} != {want}")
            print(f"# smoke {workload} trace={trace}: ok={out['correct']} "
                  f"metrics={len(got)}", file=sys.stderr)
    for p in problems:
        print(f"# SMOKE FAIL {p}", file=sys.stderr)
    print(json.dumps({"smoke": "pass" if not problems else "fail",
                      "problems": problems}))
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("etl_sf01", "q_surface", "dml_chains"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=("0.001", "0.01", "0.1"),
                    help="override the workload's scale factor (smoke mode)")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "component.py")):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    raise SystemExit(main())
