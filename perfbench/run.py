"""Benchmark driver: one workload per process, each in a fresh JVM.

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. A run sizes the Spark session from the
host, materializes the seeded input (untimed), sets up several times
(session start + per-job cover build + a warm-up that runs only the
workload's own call on a slice), then runs a closed loop of forced reps
for `--seconds` and checks the output against an independent oracle.

The last stdout line is one JSON object: correct / attempted / failed /
metrics. `--trace 0` reports the end-to-end metrics; `--trace 1` runs
the layer prefixes under job groups and reports the per-layer metrics.
The line before it is the run record (host fingerprint, input digest,
rep times). `--workload all` runs every workload in its own process,
prints each metric with its unit and exits 1 if any check failed.

The host's single-core speed is calibrated at the start and the end of
a run; the record carries both and `host_drift`, their relative
difference. A run whose host speed moved by more than
HOST_DRIFT_WARN is flagged on stderr, and `--workload all` flags runs
whose start calibrations differ by more than that.
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
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SETUPS = 2          # set-ups per run; setup_s is their median
MIN_REPS = 3        # timed reps per run, even when --seconds runs out first
MIN_ROUNDS = 2      # traced rounds per run
FIXED_S = 100       # allowance for everything in a run but the measuring window
HOST_DRIFT_WARN = 0.2

WORKLOAD_NAMES = ("join_tile", "pyramid_write", "dedup_zipf")
LAYERS = ("sources", "spatial_join", "tiling", "io", "dedup")

END_TO_END = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; every one is reported on every workload, and
# a layer that does not run on a workload reports 0
PER_LAYER = {
    "session.start_s": "s",
    "session.heap_mb": "MB",
    "sources.cover_build_s": "s",
    "sources.cover_rows": "count",
    "sources.self_s": "s",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "B",
    "sources.scan_amplification": "ratio",
    "spatial_join.self_s": "s",
    "spatial_join.cell_candidates": "count",
    "spatial_join.exact_rows_in": "count",
    "spatial_join.pip_hits": "count",
    "spatial_join.hit_ratio": "ratio",
    "spatial_join.py_bytes_sent": "B",
    "spatial_join.py_bytes_per_row": "B/row",
    "spatial_join.py_busy_s": "s",
    "spatial_join.py_boot_s": "s",
    "spatial_join.python_nodes": "count",
    "spatial_join.broadcast_joins": "count",
    "spatial_join.shuffle_bytes": "B",
    "tiling.self_s": "s",
    "tiling.out_rows": "count",
    "tiling.shuffle_bytes": "B",
    "io.write_s": "s",
    "io.files": "count",
    "io.bytes": "B",
    "io.jobs": "count",
    "dedup.self_s": "s",
    "dedup.gram_rows": "count",
    "dedup.docsets_rows": "count",
    "dedup.prefix_rows": "count",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.verify_ratio": "ratio",
    "dedup.shuffle_bytes": "B",
    "dedup.persisted_bytes": "B",
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in (
        ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
        ("spill_bytes", "B"), ("task_skew", "ratio"))},
    "trace.overhead_ratio": "ratio",
    "fail_ratio": "ratio",
    "cached_left": "count",
    "out_bytes_per_row": "B/row",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: Path) -> None:
    """Size the session from the host and keep every file Spark, the JVM
    and the Python workers write inside `work`. The driver heap is fixed
    at its maximum size (-Xms = -Xmx), so peak RSS does not depend on
    when the collector decides to grow the heap."""
    import host

    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    host.size_session_env(os.environ)
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
        f"-Xms{os.environ['GDAL_SPARK_DRIVER_MEM']}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def stop_jvm() -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def kill_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.proc.kill()
        gw.proc.wait()


def deadline_s(seconds: int) -> int:
    """A run still going after this long is killed and fails: the fixed
    part of a run plus three measuring windows (the traced run's last
    round may overrun its window)."""
    return FIXED_S + 3 * seconds


def _on_alarm(signum, frame):
    raise TimeoutError("run exceeded its deadline")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0


class Runner:
    def __init__(self, name: str, seed: int, seconds: int, trace: bool, work: Path):
        import workloads

        self.seconds = seconds
        self.trace = trace
        self.wl = workloads.WORKLOADS[name](str(work), seed,
                                            parts=int(os.environ["SPARK_GRAFT_CPUS"]))
        self.n = len(self.wl.layers)
        self.attempted = 0
        self.failed = 0
        self.record: dict = {"workload": name, "seed": seed, "seconds": seconds,
                             "trace": int(trace)}

    # -- session and set-up -------------------------------------------------
    def start_session(self):
        from gdal_spark.session import get_spark

        return get_spark(f"perfbench-{self.wl.name}")

    def setup(self):
        """Launch the JVM, materialize the input, then set up SETUPS times
        in fresh sessions; returns the last session."""
        import host
        import workloads

        self.record["host"] = host.fingerprint()
        self.record["host"]["spark_cpus"] = int(os.environ["SPARK_GRAFT_CPUS"])
        t0 = time.perf_counter()
        spark = self.start_session()
        self.record["jvm_launch_s"] = time.perf_counter() - t0
        self.jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        t0 = time.perf_counter()
        self.wl.materialize(spark)
        self.record["input_digest"] = f"{self.wl.rows}:{workloads.files_digest(self.wl.input_path)}"
        self.record["materialize_s"] = time.perf_counter() - t0
        self.setup_s, self.start_s, self.cover_s = [], [], []
        for _ in range(SETUPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = self.start_session()
            t1 = time.perf_counter()
            self.wl.build(spark)
            t2 = time.perf_counter()
            self.wl.run(spark, self.n, warm=True)
            t3 = time.perf_counter()
            spark.catalog.clearCache()
            self.setup_s.append(t3 - t0)
            self.start_s.append(t1 - t0)
            self.cover_s.append(t2 - t1)
        self.record["setup_s"] = self.setup_s
        self.record["session_start_s"] = self.start_s
        self.record["cover_build_s"] = self.cover_s
        return spark

    # -- timed reps ---------------------------------------------------------
    def rep(self, spark, expect):
        """One forced call of the whole chain; returns (wall s, summary,
        cache entries left behind). Entries are counted before release."""
        import sparkstats

        t0 = time.perf_counter()
        _, summary = self.wl.run(spark, self.n)
        dt = time.perf_counter() - t0
        if summary is None:
            summary = self.wl.written_summary()
        left = sparkstats.cache_entries(spark)
        spark.catalog.clearCache()
        self.attempted += 1
        if expect is not None and summary != expect:
            self.failed += 1
            log(f"rep output {summary} differs from the first rep's {expect}")
        return dt, summary, left

    def timed_reps(self, spark):
        import host

        reps, left, expect = [], [], None
        with host.RssSampler(self.jvm_pid) as rss:
            end = time.perf_counter() + self.seconds
            while len(reps) < MIN_REPS or time.perf_counter() < end:
                dt, summary, cached = self.rep(spark, expect)
                expect = summary if expect is None else expect
                reps.append(dt)
                left.append(cached)
        self.record["rep_s"] = reps
        self.record["output"] = list(expect) if expect else None
        return reps, left, rss.peak_mb

    # -- oracle -------------------------------------------------------------
    def check(self, spark):
        t0 = time.perf_counter()
        results = []
        try:
            results = self.wl.checks(spark)
        except Exception:
            log("oracle check raised:\n" + traceback.format_exc())
            results = [(f"{self.wl.name}.oracle", False, "raised")]
        for name, ok, detail in results:
            self.attempted += 1
            self.failed += 0 if ok else 1
            log(f"check {name}: {'ok' if ok else 'MISMATCH'} ({detail})")
        self.record["checks"] = {name: ok for name, ok, _ in results}
        self.record["check_s"] = time.perf_counter() - t0

    # -- traced rounds ------------------------------------------------------
    def traced_rounds(self, spark):
        import sparkstats

        sc = spark.sparkContext
        rounds = []
        end = time.perf_counter() + self.seconds
        while len(rounds) < MIN_ROUNDS or time.perf_counter() < end:
            # the untraced rep runs before the traced chain in even rounds
            # and after it in odd ones, so warm-up drift does not bias
            # trace.overhead_ratio
            untraced_last = len(rounds) % 2 == 1
            r = {"wall": [], "rows": [], "stages": [], "nodes": []}
            if not untraced_last:
                r["untraced"] = self.rep(spark, None)[0]
            for k, layer in enumerate(self.wl.layers, start=1):
                group = f"perfbench.{len(rounds)}.{layer}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                sink, summary = self.wl.run(spark, k)
                r["wall"].append(time.perf_counter() - t0)
                r["rows"].append(summary[0] if summary else None)
                r["nodes"].append(sparkstats.plan_nodes(sink) if sink is not None else [])
                r["stages"].append(sparkstats.stage_totals(spark, group))
                if k == self.n:
                    r["cached"] = sparkstats.cache_entries(spark)
                    r["persisted"] = sparkstats.persisted_bytes(spark)
                    r["traced"] = time.perf_counter() - t0
                    if layer == "io":
                        r["written"] = self.wl.written()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                spark.catalog.clearCache()
            if untraced_last:
                r["untraced"] = self.rep(spark, None)[0]
            self.attempted += 1
            rounds.append(r)
        return rounds

    # -- metrics ------------------------------------------------------------
    def end_to_end(self, reps, peak_rss_mb):
        return {
            "rows_per_s": self.wl.rows / median(reps),
            "setup_s": median(self.setup_s),
            "peak_rss_mb": peak_rss_mb,
        }

    def per_layer(self, spark, rounds):
        import sparkstats

        m = {name: 0.0 for name in PER_LAYER}
        m["session.start_s"] = median(self.start_s)
        m["session.heap_mb"] = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory()) / 2**20
        if self.wl.cover is not None:
            m["sources.cover_build_s"] = median(self.cover_s)
            m["sources.cover_rows"] = self.wl.cover.count()

        def med(f, k):
            """median over rounds of f(round, k); prefix 0 is empty."""
            return median([f(r, k - 1) for r in rounds]) if k > 0 else 0.0

        wall = lambda r, i: r["wall"][i]
        for k, layer in enumerate(self.wl.layers, start=1):
            self_s = med(wall, k) - med(wall, k - 1)
            m["io.write_s" if layer == "io" else f"{layer}.self_s"] = self_s
            for attr in ("task_s", "cpu_s", "gc_s", "spill_bytes", "shuffle_bytes"):
                get = lambda r, i, a=attr: getattr(r["stages"][i], a)
                name = f"{layer}.{attr}"
                if name in m:
                    m[name] = med(get, k) - med(get, k - 1)
            m[f"{layer}.task_skew"] = med(lambda r, i: r["stages"][i].task_skew, k)

        last = rounds[-1]
        layers = self.wl.layers
        # scans: the deepest prefix that ends in a hash sink
        read_k = max(k for k, n in enumerate(last["rows"], start=1) if n is not None)
        scans = [n for n in last["nodes"][read_k - 1] if n.name.startswith("Scan ")]
        m["sources.scan_rows"] = sparkstats.metric_sum(scans, "numOutputRows")
        m["sources.scan_bytes"] = sparkstats.metric_sum(scans, "filesSize")
        m["sources.scan_amplification"] = m["sources.scan_rows"] / self.wl.rows

        if "spatial_join" in layers:
            k = layers.index("spatial_join")
            nodes = last["nodes"][k]
            joins = [n for n in nodes if n.name.endswith("Join") and "lon" in n.columns]
            py = [n for n in nodes if any(s in n.name for s in ("Python", "Pandas", "InArrow"))]
            cand = sum(n.metrics.get("numOutputRows", 0) for n in joins)
            exact_in = sparkstats.metric_sum(py, "pythonNumRowsReceived")
            sent = sparkstats.metric_sum(py, "pythonDataSent")
            hits = last["rows"][k]
            m.update({
                "spatial_join.cell_candidates": cand,
                "spatial_join.exact_rows_in": exact_in,
                "spatial_join.pip_hits": hits,
                "spatial_join.hit_ratio": ratio(hits, cand),
                "spatial_join.py_bytes_sent": sent,
                "spatial_join.py_bytes_per_row": ratio(sent, exact_in),
                "spatial_join.py_busy_s": sparkstats.metric_sum(py, "pythonTotalTime") / 1e3,
                "spatial_join.py_boot_s": sparkstats.metric_sum(py, "pythonBootTime") / 1e3,
                "spatial_join.python_nodes": len(py),
                "spatial_join.broadcast_joins": sum(
                    1 for n in nodes if n.name.startswith("Broadcast") and n.name.endswith("Join")),
            })
        if "tiling" in layers:
            k = layers.index("tiling")
            m["tiling.out_rows"] = last["rows"][k]
        if "io" in layers:
            k = layers.index("io")
            files, nbytes = last["written"]
            m["io.files"] = files
            m["io.bytes"] = nbytes
            m["io.jobs"] = last["stages"][k].jobs
            m["out_bytes_per_row"] = ratio(nbytes, m["tiling.out_rows"])
        if "dedup" in layers:
            k = layers.index("dedup")
            nodes = last["nodes"][k]
            cached = {tuple(n.columns): n.metrics for n in nodes if n.name == "InMemoryRelation"}
            # the rows sent to verification: candidate pairs left by the
            # positional filter, which keeps the aggregate's columns
            cand = [n for n in nodes
                    if n.name == "Filter" and n.columns[:3] == ["id_a", "id_b", "_i0"]]
            pairs = last["rows"][k]
            m.update({
                "dedup.gram_rows": max([n.metrics.get("numOutputRows", 0)
                                        for n in nodes if n.name == "Generate"], default=0),
                "dedup.docsets_rows": cached.get(("_id", "gs", "ng"), {}).get("rows", 0),
                "dedup.prefix_rows": cached.get(("_id", "gram", "_rk", "ng"), {}).get("rows", 0),
                "dedup.candidates": sparkstats.metric_sum(cand, "numOutputRows"),
                "dedup.pairs": pairs,
                "dedup.persisted_bytes": median([r["persisted"] for r in rounds]),
            })
            m["dedup.verify_ratio"] = ratio(pairs, m["dedup.candidates"])
        m["cached_left"] = median([r["cached"] for r in rounds])
        m["trace.overhead_ratio"] = ratio(median([r["traced"] for r in rounds]),
                                          median([r["untraced"] for r in rounds]))
        return m

    def stamp_drift(self):
        import host

        start = self.record["host"]["calib_loops_per_s"]
        end = round(host.calibrate())
        self.record["calib_end_loops_per_s"] = end
        self.record["host_drift"] = drift = end / start - 1
        if abs(drift) > HOST_DRIFT_WARN:
            log(f"host speed moved {drift:+.0%} during the run; compare its figures with care")

    # -- whole run ----------------------------------------------------------
    def run(self) -> dict:
        spark = self.setup()
        if self.trace:
            rounds = self.traced_rounds(spark)
            self.check(spark)
            metrics = self.per_layer(spark, rounds)
            metrics["fail_ratio"] = ratio(self.failed, self.attempted)
            units = PER_LAYER
        else:
            reps, left, peak = self.timed_reps(spark)
            self.record["cached_left"] = left
            self.check(spark)
            metrics = self.end_to_end(reps, peak)
            units = END_TO_END
        self.stamp_drift()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }


def run_one(args) -> int:
    if not (ROOT / "gdal_spark").is_dir():
        log(f"no gdal_spark package under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    prepare_env(work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(deadline_s(args.seconds))
    try:
        runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), work)
        result = runner.run()
        stop_jvm()
    except BaseException:
        kill_jvm()
        raise
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": runner.record}))
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints `workload metric value
    unit` lines and fails if any run failed or any check mismatched."""
    rc = 0
    calib = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{name:14s} FAILED (exit {p.returncode})", flush=True)
            rc = 1
            continue
        res = json.loads(lines[-1])
        rec = json.loads(lines[-2])["record"]
        calib[name] = rec["host"]["calib_loops_per_s"]
        if abs(rec["host_drift"]) > HOST_DRIFT_WARN:
            print(f"{name:14s} WARNING host speed moved {rec['host_drift']:+.0%} during the run",
                  flush=True)
        for metric, v in res["metrics"].items():
            print(f"{name:14s} {metric:34s} {v['value']:16.4f} {v['unit']}", flush=True)
        print(f"{name:14s} {'checks':34s} {res['attempted'] - res['failed']:>11d} of "
              f"{res['attempted']} ok", flush=True)
        if not res["correct"] or res["failed"]:
            rc = 1
    if calib and max(calib.values()) > (1 + HOST_DRIFT_WARN) * min(calib.values()):
        print(f"WARNING host speed differed between workloads: {calib} loops/s", flush=True)
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
