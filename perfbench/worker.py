"""The measured process of the component benchmark.

One fresh process per invocation, like one Keboola job: build the
SparkSession, run ``Component(data_dir, spark).run()`` once cold, then
``--warm-runs`` times warm. The count is fixed by the launcher rather
than by a clock: the JVM is still warming up over these runs, so a
count that followed the machine's speed would measure a different point
of that slope in every invocation. Every run starts from a clean
``out/`` (so also a fresh TableStore warehouse); afterwards ``out/`` is
moved aside for the oracle check. Results go to a JSON file.

With ``--trace 1`` the UI REST API is on and Spark job counts and times
are read per run by job group. The first warm run is a plain warm-up;
after it the ledger wraps the layers on runs in the order traced,
plain, plain, traced (``is_traced``), so the tracing overhead read from
the two groups is not skewed by the warm-up slope.

Started by ``perfbench/run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import urllib.request
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def is_traced(i: int) -> bool:
    """Whether warm run ``i`` of a traced invocation runs wrapped: run 1
    warms up, then runs 2, 3, 4, 5 go traced, plain, plain, traced."""
    return i >= 2 and i % 4 in (1, 2)


def _params(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "config.json"), encoding="utf-8") as fh:
        return json.load(fh)["parameters"]


def build_session(params: dict, trace: bool, tmp_dir: str):
    """The session ``Component.spark`` would build for this config, with
    the JVM's temp dir kept inside the benchmark's work dir."""
    from component_duckdb_transformation_spark.session import build_spark_session

    extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}"}
    if trace:
        extra["spark.ui.enabled"] = "true"
    return build_spark_session(
        app_name="cdts-component",
        threads=params["threads"],
        max_memory_mb=params["max_memory_mb"],
        extra_conf=extra,
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) jiffies of all CPUs since boot: busy is user, nice,
    system, irq and softirq time; stolen is time the hypervisor ran
    something else while a CPU had work."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def _net_s(wall: float, j0: tuple[int, int], j1: tuple[int, int]) -> float:
    """``wall`` less the share of it the hypervisor stole: wall x busy /
    (busy + stolen), from the jiffies read before (``j0``) and after
    (``j1``). The stolen share of the CPUs' non-idle time is the same
    whether one CPU or all of them were busy, so the correction does not
    depend on how parallel the measured code is. On a VM that shares its
    host this removes most of what busy neighbours add to a wall time."""
    busy, steal = j1[0] - j0[0], j1[1] - j0[1]
    return wall * busy / (busy + steal) if busy + steal else wall


def _vmhwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _rest(spark, path: str):
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def spark_jobs(spark, group: str) -> dict:
    """Jobs, job time, tasks and shuffle bytes of one run, summed over
    its job group and the executor's nested ``<group>/<query>`` groups
    (the ``bench.py::_active_times`` way)."""
    jobs = [
        j for j in _rest(spark, "jobs")
        if (j.get("jobGroup") or "").split("/", 1)[0] == group
    ]
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    shuffle = sum(
        s.get("shuffleWriteBytes", 0)
        for s in _rest(spark, "stages?status=complete")
        if s["stageId"] in stage_ids
    )
    job_s = sum(
        _ts(j["completionTime"]) - _ts(j["submissionTime"])
        for j in jobs if j.get("completionTime") and j.get("submissionTime")
    )
    return {
        "spark.jobs": len(jobs),
        "spark.job_s": job_s,
        "spark.tasks": sum(j.get("numTasks", 0) for j in jobs),
        "spark.shuffle_bytes": shuffle,
    }


class Runner:
    def __init__(self, spark, data_dir: str, runs_dir: str, ledger=None):
        self.spark = spark
        self.data_dir = data_dir
        self.runs_dir = runs_dir
        self.ledger = ledger

    def run(self, i: int, traced: bool) -> dict:
        from component_duckdb_transformation_spark.component import Component

        out = os.path.join(self.data_dir, "out")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "tables"))
        os.makedirs(os.path.join(out, "files"))
        sc = self.spark.sparkContext
        group = f"bench-run{i}"
        if traced:
            self.ledger.install(type(self.spark))
            self.ledger.begin_run(i)
            sc.setJobGroup(group, group)
        j0, load0 = _cpu_jiffies(), os.getloadavg()[0]
        error = None
        component = None
        t0 = time.perf_counter()
        try:
            component = Component(self.data_dir, self.spark)
            component.run()
        except Exception as exc:  # noqa: BLE001 — a failed job is a result
            error = f"{type(exc).__name__}: {exc}"[:2000]
        wall = time.perf_counter() - t0
        j1 = _cpu_jiffies()
        rec = {
            "i": i, "traced": traced, "wall": wall, "error": error,
            "net": _net_s(wall, j0, j1),
            "cpu_s": (j1[0] - j0[0]) / os.sysconf("SC_CLK_TCK"),
            "steal_jiffies": j1[1] - j0[1], "load1": load0,
        }
        if traced:
            self.ledger.uninstall()
            seconds, counts = self.ledger.end_run()
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["seconds"], rec["counts"] = seconds, counts
            rec.update(spark_jobs(self.spark, group))
        store = component.executor.store if component and component.executor else None
        rec["live_bytes"] = sum(
            _dir_bytes(s.path) for s in store.tables.values() if s.path
        ) if store else 0
        snapshot = os.path.join(self.runs_dir, f"run{i}")
        os.rename(out, snapshot)
        rec["snapshot"] = snapshot
        rec["out_bytes"] = _dir_bytes(snapshot)
        rec["export_bytes"] = _dir_bytes(os.path.join(snapshot, "tables"))
        return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--runs-dir", required=True)
    ap.add_argument("--tmp-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--warm-runs", type=int, required=True)
    ap.add_argument("--deadline", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    # set-up is timed once per invocation: a build in a fresh process
    # (JVM start included) costs 7-10 s on 4 CPUs, too much to repeat
    j0 = _cpu_jiffies()
    t0 = time.perf_counter()
    spark = build_session(_params(args.data_dir), bool(args.trace), args.tmp_dir)
    setup_wall = time.perf_counter() - t0
    setup_s = _net_s(setup_wall, j0, _cpu_jiffies())

    ledger = None
    if args.trace:
        from ledger import Ledger

        ledger = Ledger()
    runner = Runner(spark, args.data_dir, args.runs_dir, ledger)
    runs = [runner.run(0, traced=bool(args.trace))]
    for i in range(1, args.warm_runs + 1):
        if i > 3 and time.time() + 1.3 * runs[-1]["wall"] > args.deadline:
            break
        runs.append(runner.run(i, traced=bool(args.trace) and is_traced(i)))

    gateway = spark.sparkContext._gateway  # noqa: SLF001
    py_kb, jvm_kb = _vmhwm_kb(os.getpid()), _vmhwm_kb(gateway.proc.pid)
    result = {
        "setup_s": setup_s,
        "setup_wall": setup_wall,
        "runs": runs,
        "peak_rss_mb": (py_kb + jvm_kb) / 1024.0,
        "env": {
            "nproc": os.cpu_count(),
            "pyspark": __import__("pyspark").__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),  # noqa: SLF001
            "vmhwm_mb": {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0},
        },
    }
    if ledger is not None:
        result["spans"] = len(ledger.spans)
        ledger.write_spans(
            os.path.join(args.runs_dir, "spans.jsonl"),
            {"runs": [{k: r[k] for k in ("i", "traced", "wall", "steal_jiffies", "load1")}
                      for r in runs]},
        )
    spark.stop()
    # the JVM exits when its stdin closes; wait for it rather than
    # leaving it to outlive this process
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
