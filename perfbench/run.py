"""The repository's benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload match_dense --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout on local[nproc] with one driver
process and one JVM at a time. It generates the workload's inputs
from the seed, sets up once in a fresh JVM (session start, input
generation and materialization, Python-worker warm-up), computes the
oracle once, times a first run and then steady runs for `--seconds`
(at least two), checks every run's output, and prints the
end-to-end metrics. With
`--trace 1` it instead measures untraced runs, then traced runs in a
fresh session with Spark's event log on, and prints per-layer
metrics folded from that log. The last stdout line is one JSON
object: correct, attempted, failed, metrics. The exit code is 1 when
any run failed its check, 2 when the engine is missing.

Everything it writes lives under `.perfbench_work/` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# session.py defaults to 16g, more than many hosts have; at 2g the JVM's
# resident size wandered 1.5-2.2 GiB between invocations, at 1g it
# stays within a few percent (and GC shows up in the runs)
DRIVER_MEM = "1g"
# steady runs measured even when --seconds is shorter. Run times keep
# falling for five or six runs after the first while the JVM's JIT
# compiles, so a median over however many runs fit in --seconds moves
# with host speed; at the sizes below two runs outlast 8 s, which pins
# the steady runs to runs 2-3 on every invocation
MIN_STEADY = 2
# a run slower than this counts as failed; its Spark jobs are cancelled
# then, so a run hung in a job ends, one hung in driver code does not
RUN_TIMEOUT_S = 120.0

WORKLOADS = {
    "match_dense": lambda w: w.MatchPipeline(12_000),
    "publish_dedup": lambda w: w.Composite(w.TilePublish(6_000, n_buckets=2), w.NearDup(1_500)),
}

SETUP_SPANS = ("session.start", "inputs.generate", "session.warmup")
# (span, suffixes) reported by --trace 1; every workload reports all of
# them, so a span a workload never enters reads 0
_GENERIC = (
    "wall_s", "driver_s", "core_idle_frac", "task_cpu_s", "gc_s", "jobs",
    "stages", "stages_skipped", "tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes",
)
PER_LAYER = [
    ("session.start", ("wall_s",)),
    ("inputs.generate", ("wall_s", "task_cpu_s", "shuffle_write_bytes")),
    ("session.warmup", ("wall_s", "udf_s")),
    ("conflate", _GENERIC + ("rows_out", "udf_rows", "udf_s")),
    ("enrich.group", _GENERIC + ("rows_out",)),
    ("knn", _GENERIC + ("rows_out",)),
    ("checkpoint.prepare", _GENERIC),
    ("checkpoint.run", _GENERIC + ("rows_out", "udf_rows", "udf_s")),
    ("checkpoint.resume", _GENERIC + ("rows_out", "udf_rows", "udf_s")),
    ("pmtiles", _GENERIC + ("udf_rows", "udf_s")),
    ("dedup.minhash", _GENERIC + ("rows_out",)),
]
LAYER_EXTRA = {
    "conflate.udf_pass_ratio": "ratio",
    "dedup.minhash.candidate_pairs": "count",
    "dedup.minhash.verify_pass_ratio": "ratio",
    "pmtiles.tiles": "count",
    "pmtiles.archive_bytes": "B",
    "checkpoint.bytes_written": "B",
    "trace_overhead_frac": "ratio",
}
END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "items_per_s": "items/s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
}
# the end-to-end metrics of the JSON line (and BENCHMARK.json); the
# printed error_rate reads 0 when all is well, so it travels as the
# line's failed/attempted instead
REPORTED = ("setup_s", "first_run_s", "run_s", "items_per_s", "cpu_s", "peak_rss_mb")


def unit_of(suffix: str) -> str:
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_bytes"):
        return "B"
    if suffix.endswith("_frac"):
        return "ratio"
    return "count"


def per_layer_names() -> dict[str, str]:
    names = {f"{span}.{sfx}": unit_of(sfx) for span, sfxs in PER_LAYER for sfx in sfxs}
    names.update(LAYER_EXTRA)
    return names


_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench +{time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def filesystem_of(path: str) -> str:
    """Type of the filesystem holding `path` (from /proc/mounts)."""
    best = ("", "?")
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if os.path.join(path, "").startswith(os.path.join(mnt, "")) and len(mnt) > len(best[0]):
                best = (mnt, fstype)
    return f"{best[1]} at {best[0]}"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spread(values: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below 20 samples), and the sample count."""
    out = {"median": statistics.median(values), "n": len(values)}
    for p in (99.9, 99, 95, 90, 50):
        if len(values) * (1 - p / 100) >= 10:
            out[f"p{p:g}"] = statistics.quantiles(values, n=1000)[int(p * 10) - 1]
            break
    return out


class Spans:
    """Driver-side span records. Each span runs under its own Spark
    job group `<name>#<n>`, which is how the event log attributes
    jobs, stages and tasks to it."""

    def __init__(self):
        self.records: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, spark=None):
        group = f"{name}#{len(self.records)}"
        rec = {"name": name, "group": group}
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            log(f"  span {name}: {rec['t1'] - rec['t0']:.2f}s")
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.records.append(rec)


class Bench:
    def __init__(self, args):
        import workloads

        self.args = args
        self.cpus = nproc()
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.wl = WORKLOADS[args.workload](workloads)
        self.spark = None
        self.rss = None
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # every byte Spark, its Python workers and the workloads write
        # goes under the checkout, on the checkout's filesystem
        os.environ.update(
            {
                "TMPDIR": os.path.join(self.work, "tmp"),
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "SPARK_GRAFT_LOCAL_DIR": os.path.join(self.work, "spark-local"),
                # Spark prefers this variable over spark.local.dir
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
                "PYSPARK_PYTHON": sys.executable,
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
                ),
            }
        )

    # -- sessions ---------------------------------------------------------
    def setup(self, spans: Spans, traced: bool) -> float:
        """Session start + input generation/materialization + Python
        worker warm-up. Returns its wall time."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import DoubleType

        from overmatch_spark.session import get_spark
        from overmatch_spark.udfs import indel_sim

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": f"file://{self.log_dir}",
                }
            )
        t0 = time.time()
        with spans.span("session.start"):
            self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        with spans.span("inputs.generate", self.spark) as s:
            self.wl.generate(self.work, self.args.seed)
            s["rows_out"] = self.wl.materialize(self.spark, self.cpus)
        with spans.span("session.warmup", self.spark):
            # a UDF handle of this session over the engine's indel kernel:
            # PySpark caches a UDF's JVM handle with the session that
            # first used it, so the engine's own `indel_sim` handle is
            # left to the runs
            sim = F.pandas_udf(indel_sim.func, DoubleType())
            warm = (
                self.spark.range(0, 5_000 * self.cpus, 1, 2 * self.cpus)
                .withColumn("s", F.col("id").cast("string"))
                .withColumn("w", sim(F.col("s"), F.col("s")))
            )
            warm.write.format("noop").mode("overwrite").save()
        log(f"setup {time.time() - t0:.2f}s (traced={traced})")
        return time.time() - t0

    def stop(self, jvm: bool = True) -> None:
        """Stop the session and, with `jvm`, the JVM; waits until the
        JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway if jvm else None
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def child(self, seconds: float) -> dict:
        """Untraced first and steady runs in a fresh interpreter and
        JVM; returns the child's JSON. (Event logging is fixed when a
        SparkContext starts, and the traced session must start cold
        too, so the untraced twin cannot share this process.)"""
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               self.args.workload, "--seed", str(self.args.seed),
               "--seconds", str(seconds), "--child", "runs"]
        done = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600, check=True)
        out = json.loads(done.stdout.strip().splitlines()[-1])
        self.attempted += out.get("attempted", 0)
        self.failed += out.get("failed", 0)
        self.problems += out.get("problems", [])
        return out

    # -- runs ---------------------------------------------------------------
    def one_run(self, spans: Spans) -> tuple[float, float, bool]:
        """One full pipeline run: (wall s, tree CPU s, correct)."""
        from procstat import cpu_seconds

        run_dir = os.path.join(self.work, f"run{self.attempted}")
        os.makedirs(run_dir)
        self.attempted += 1

        def span(name):
            return spans.span(name, self.spark)

        def tree_cpu():  # less what the memory sampler spent
            return cpu_seconds(os.getpid()) - self.rss.cpu_s

        timer = threading.Timer(RUN_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        c0, t0 = tree_cpu(), time.time()
        wall = cpu = None
        try:
            out = self.wl.run(self.spark, span, run_dir)
            wall, cpu = time.time() - t0, tree_cpu() - c0
            if hasattr(self.wl, "inspect"):
                self.wl.inspect(self.spark, out)
            bad = self.wl.check(out)
        except Exception:
            bad = ["exception:\n" + traceback.format_exc()]
        finally:
            timer.cancel()
        if wall is None:
            wall, cpu = time.time() - t0, tree_cpu() - c0
        if wall > RUN_TIMEOUT_S:
            bad.append(f"timeout: {wall:.1f}s > {RUN_TIMEOUT_S}s")
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"run {self.attempted}: {wall:.2f}s cpu {cpu:.2f}s {'ok' if not bad else 'FAILED'}")
        if bad:
            self.failed += 1
            self.problems += [f"run {self.attempted}: {p}" for p in bad]
        return wall, cpu, not bad

    def steady(self, spans: Spans, seconds: float, min_runs: int = MIN_STEADY) -> tuple[list, list]:
        walls, cpus = [], []
        t_end = time.time() + seconds
        while time.time() < t_end or len(walls) < min_runs:
            wall, cpu, _ = self.one_run(spans)
            walls.append(wall)
            cpus.append(cpu)
        return walls, cpus

    # -- the modes --------------------------------------------------------
    def measure(self, spans: Spans, traced: bool, seconds: float,
                min_runs: int = MIN_STEADY) -> dict:
        """Set up, compute the oracle, then a first and steady runs.
        Memory is sampled from the first run on, so the oracle's
        transient peak is left out."""
        from procstat import PeakRss

        setup_s = self.setup(spans, traced)
        t0 = time.time()
        self.wl.oracle(self.spark, self.args.seed)
        log(f"oracle {time.time() - t0:.2f}s")
        with PeakRss(os.getpid()) as self.rss:
            first, _, _ = self.one_run(spans)
            n_steady = len(spans.records)
            walls, cpus = self.steady(spans, seconds, min_runs)
        self.stop(jvm=False)
        return {"setup_s": setup_s, "first": first, "walls": walls, "cpus": cpus,
                "n_steady": n_steady}

    def end_to_end(self) -> dict:
        r = self.measure(Spans(), False, self.args.seconds)
        walls = r["walls"]
        log("peak rss parts MiB: " + " ".join(f"{b / 2**20:.0f}" for b in self.rss.parts))
        return {
            "setup_s": {"median": r["setup_s"], "n": 1},
            "first_run_s": {"median": r["first"], "n": 1},
            "run_s": spread(walls),
            "items_per_s": spread([self.wl.items / w for w in walls]),
            "cpu_s": spread(r["cpus"]),
            "peak_rss_mb": {"median": self.rss.peak / 2**20, "n": 1},
        }

    def traced(self) -> dict:
        """Untraced runs in a child, then traced runs here; per-layer
        metrics are medians over the traced steady runs' spans."""
        from eventlog import span_metrics

        untraced = self.child(self.args.seconds / 2)["run_s"]
        spans = Spans()
        r = self.measure(spans, True, self.args.seconds / 2, min_runs=1)
        n_setup = len(SETUP_SPANS)
        recs = spans.records[:n_setup] + spans.records[r["n_steady"]:]
        samples = span_metrics(self.log_dir, recs, self.cpus)
        extra: dict[str, list] = {}
        by_span: dict[str, list[dict]] = {}
        for rec, m in zip(recs, samples):
            m["rows_out"] = rec.get("rows_out", 0)
            by_span.setdefault(m["name"], []).append(m)
            for k, v in rec.get("extra", {}).items():
                extra.setdefault(k, []).append(v)
        self.span_table = by_span

        metrics = {
            f"{span}.{sfx}": statistics.median(m[sfx] for m in by_span[span])
            for span, sfxs in PER_LAYER
            if span in by_span
            for sfx in sfxs
        }
        metrics.update({k: statistics.median(v) for k, v in extra.items()})
        conf = [m for m in by_span.get("conflate", []) if m["udf_rows"]]
        if conf:
            metrics["conflate.udf_pass_ratio"] = statistics.median(
                m["rows_out"] / m["udf_rows"] for m in conf
            )
        metrics["trace_overhead_frac"] = statistics.median(r["walls"]) / untraced - 1
        return {k: metrics.get(k, 0) for k in per_layer_names()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", choices=("runs",), help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "overmatch_spark")):
        print(f"engine package overmatch_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

    from window_probe import alu_ops

    alu_mops = alu_ops()  # host-speed context only, never a gate
    bench = Bench(args)
    if args.child:
        try:
            r = bench.measure(Spans(), False, args.seconds, min_runs=1)
            out = {"run_s": statistics.median(r["walls"]), "attempted": bench.attempted,
                   "failed": bench.failed, "problems": bench.problems}
        finally:
            bench.stop()
            shutil.rmtree(bench.work, ignore_errors=True)
        print(json.dumps(out))
        return 0
    try:
        if args.trace:
            metrics = {k: (v, per_layer_names()[k]) for k, v in bench.traced().items()}
        else:
            e2e = bench.end_to_end()
    finally:
        bench.stop()
        shutil.rmtree(bench.work, ignore_errors=True)

    for p in bench.problems:
        print(f"CHECK FAILED {p}", file=sys.stderr)
    error_rate = bench.failed / bench.attempted
    print(f"# workload {args.workload} seed {args.seed} nproc {bench.cpus} "
          f"driver_mem {DRIVER_MEM} work_fs {filesystem_of(ROOT)} alu_mops {alu_mops} "
          f"inputs {json.dumps(bench.wl.describe())}")
    if not args.trace:
        for name, unit in END_TO_END.items():
            rest = " ".join(f"{k}={v:.6g}" for k, v in e2e[name].items() if k != "median")
            print(f"{name:14s} {e2e[name]['median']:14.6g} {unit:8s} {rest}")
        print(f"{'error_rate':14s} {error_rate:14.6g} {'ratio':8s} "
              f"failed={bench.failed} attempted={bench.attempted}")
        metrics = {k: (e2e[k]["median"], END_TO_END[k]) for k in REPORTED}
    else:
        from eventlog import FIELDS

        # every span's full record (medians over samples), then the
        # metrics the JSON line carries
        for span, samples in bench.span_table.items():
            row = " ".join(
                f"{f}={statistics.median(m[f] for m in samples):.4g}"
                for f in FIELDS + ("rows_out",)
            )
            print(f"# span {span} n={len(samples)} {row}")
        for k, (v, u) in metrics.items():
            print(f"{k:44s} {v:16.6g} {u}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
