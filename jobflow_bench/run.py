"""Job-flow benchmark: the paper's five-stage job flow, end to end.

    python3 jobflow_bench/run.py --workload corpus_heavy --seed 1 --seconds 40 --trace 0

Run from the repository root.  A run generates its inputs from
``--seed`` (gen.py) and computes the oracle's expectations (check.py).
For ``resume_dumps`` a set-up invocation then runs the program's own
pipeline with a checkpoint directory, which writes the Step1 emission
and Step2+3 assoc checkpoints the timed flows resume from.  None of
this is timed.  The run then makes a closed loop of invocations for
``--seconds`` seconds (at least one), one at a time.  An invocation is
a child process that does what one ``run_pipeline`` CLI call does: it
starts a Spark session on ``local[<cores>]`` with the program's own
settings and runs one job flow through ``run_pipeline.run`` on a fresh
output directory.  The parent checks every flow's outputs against the
oracle.  A flow whose check fails, whose invocation exits with an
error, or which runs past the run's deadline (it is then killed with
its JVM and Python workers) counts as failed.

The job flow is timed in the fresh JVM, as a CLI user pays it: the
JIT, class loading and the stemmer's worker memo are all cold.  The
page cache is warm: before each invocation, untimed, the run reads the
JDK's, Spark's and the Python packages' files.  With
a 30k-line corpus on 4 cores, a second flow in the same JVM ran ~45%
faster and the JIT kept speeding up for six more flows, so a warm
figure would depend on how many flows ran before it.

``--trace 0`` reports the end-to-end metrics, medians over the
invocations whose flow passed its check.  ``--trace 1`` runs the same
cold flow with spans around the calls into each layer (trace.py),
reports the per-layer metrics (layers.py) and writes the spans to
``.jobflow_bench/spans/``; its ``trace.jobflow_traced_s`` minus the
untraced ``jobflow_s`` is the tracing overhead.  The last line of
stdout is one JSON object.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from jobflow_bench.gen import Spec, generate  # noqa: E402

PACKAGE = "semantic_similarity_system_using_aws_mapreduce_spark"
MB = 2**20
DEADLINE_S = 170  # a run ends within this many seconds of its start


@dataclass(frozen=True)
class Workload:
    spec: Spec
    folds: int
    trees: int
    resume: bool = False  # run(resume=True, text_dumps=True) on set-up checkpoints


WORKLOADS = {
    # a fresh flow on the largest corpus: the only workload whose flow
    # parses and stems the corpus and writes the Step1-3 checkpoints
    "corpus_heavy": Workload(Spec(lines=30_000, gold_pairs=2_000), folds=2, trees=10),
    # the per-step resume path on checkpoints written during set-up, with
    # the text dumps and ARFF and a reference-shaped gold set (9% related):
    # Step4, Step5 and the sinks do most of the work
    "resume_dumps": Workload(Spec(lines=20_000, gold_pairs=5_000), folds=2, trees=10, resume=True),
}

E2E_UNITS = {
    "setup_s": "s",
    "jobflow_s": "s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "output_mb": "MB",
    "cv_f1_similar": "ratio",
    "cv_accuracy": "ratio",
}


def preflight() -> str | None:
    """Why the benchmark cannot run from this checkout, or None."""
    for need in (ROOT / PACKAGE / "run_pipeline.py", ROOT / "tests" / "reference_oracle.py"):
        if not need.is_file():
            return f"missing {need.relative_to(ROOT)}: run from the repository root of a full checkout"
    if shutil.which("java") is None and not os.environ.get("JAVA_HOME"):
        return "no java on PATH and no JAVA_HOME: Spark cannot start"
    return None


def configure_env(work: Path) -> None:
    """Launch hygiene: every core, scratch space inside the checkout, and
    the checkout on the Python workers' import path (without it every
    stem task fails with ModuleNotFoundError)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    for d in ("spark-local", "tmp", "flows"):
        (work / d).mkdir(parents=True, exist_ok=True)


def library_files() -> list[Path]:
    """The files an invocation loads: the JDK's and Spark's libraries and
    the Python packages the driver and its workers import."""
    import importlib.util

    roots = []
    java = shutil.which("java")
    java_home = os.environ.get("JAVA_HOME") or (java and Path(java).resolve().parent.parent)
    if java_home:
        roots.append(Path(java_home) / "lib")
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        roots += [Path(spark_home) / "jars", Path(spark_home) / "python" / "lib"]
    for name in ("pyspark", "py4j", "pyarrow", "pandas", "numpy"):
        spec = importlib.util.find_spec(name)
        roots += [Path(d) for d in (spec.submodule_search_locations or ())] if spec else []
    files = []
    for root in roots:
        for f in root.rglob("*"):
            # pyspark's own copy of the jars is not loaded when SPARK_HOME is set
            if f.is_file() and not (spark_home and "jars" in f.relative_to(root).parts):
                files.append(f)
    return files


def warm_page_cache(files: list[Path]) -> float:
    """Read ``files`` so that the next invocation does not wait on the
    disk for them; returns the seconds it took.  Where other processes'
    memory pressure evicts the page cache within minutes, a cold read of
    the JVM's and Spark's libraries added seconds to ``setup_s`` that
    varied from one invocation to the next."""
    t0 = time.perf_counter()
    for f in files:
        try:
            with open(f, "rb") as fh:
                while fh.read(1 << 20):
                    pass
        except OSError:
            pass
    return time.perf_counter() - t0


def worker_import_check(work: Path) -> str | None:
    """Python workers start in Spark's scratch directory, not here: check
    that a fresh interpreter there can import the package."""
    python = os.environ.get("PYSPARK_PYTHON", "python3")
    probe = subprocess.run(
        [python, "-c", f"import {PACKAGE}.functions.stemming"],
        cwd=work / "tmp", capture_output=True, text=True, timeout=120,
    )
    if probe.returncode != 0:
        return f"Python workers cannot import the package: {probe.stderr.strip().splitlines()[-1:]}"
    return None


# -- one invocation (child process) ------------------------------------------
class Invocation:
    """One CLI-like invocation: a Spark session and its job flows."""

    def __init__(self, job: dict, index: int):
        self.job = job
        self.name = job["workload"]
        self.wl = WORKLOADS[self.name]
        self.work = Path(job["work"])
        self.ckpt = self.work / "checkpoints"
        self.index = index
        self.inputs = job["inputs"]
        self.outdirs: list[str] = []

    def start_session(self) -> dict:
        from pyspark.sql import functions as F

        from semantic_similarity_system_using_aws_mapreduce_spark.functions.stemming import stem_udf
        from semantic_similarity_system_using_aws_mapreduce_spark.session import get_spark

        from jobflow_bench.probes import SparkCounters

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="jobflow_bench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # scratch inside the checkout; no hsperfdata file in /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            },
        )
        t1 = time.perf_counter()
        self.spark.createDataFrame([("running",)], "w string").select(
            stem_udf(F.col("w"))
        ).collect()
        t2 = time.perf_counter()
        self.sc = self.spark.sparkContext
        self.counters = SparkCounters(self.sc)
        self.driver_heap = self.sc.getConf().get("spark.driver.memory")
        return {"setup_s": t2 - T_START, "get_spark_s": t1 - t0, "first_python_task_s": t2 - t1}

    def stop_session(self) -> None:
        from pyspark import SparkContext

        from jobflow_bench.probes import process_tree

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while len(process_tree()) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)

    def write_checkpoints(self) -> None:
        """Set-up of a resume workload: the program's own Step1 emission
        and Step2+3 assoc checkpoints, written by its pipeline with a
        checkpoint directory (Step4 stays an unevaluated plan)."""
        from semantic_similarity_system_using_aws_mapreduce_spark.plans.pipeline import (
            semantic_similarity_pipeline,
        )

        self.start_session()
        semantic_similarity_pipeline(
            self.spark, self.inputs["corpus"], self.inputs["gold"], checkpoint_dir=str(self.ckpt)
        )

    def flow(self, label: str) -> dict:
        """One job flow through ``run_pipeline.run`` on a cleared cache
        and a fresh output directory; returns its measurements."""
        from semantic_similarity_system_using_aws_mapreduce_spark import run_pipeline

        from jobflow_bench.probes import disk_bytes, tree_cpu_s

        out = self.work / "flows" / f"{label}-{self.index}"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        if self.wl.resume:
            for stage in ("emissions.parquet", "assoc.parquet"):
                shutil.copytree(self.ckpt / stage, out / stage)
        before = disk_bytes(out)
        self.spark.catalog.clearCache()
        self.sc.setJobGroup(label, label)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        metrics = run_pipeline.run(
            self.spark,
            self.inputs["corpus"],
            self.inputs["gold"],
            str(out),
            mode="standard",
            folds=self.wl.folds,
            trees=self.wl.trees,
            text_dumps=self.wl.resume,
            resume=self.wl.resume,
        )
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        self.sc.setJobGroup("idle", "idle")
        self.outdirs.append(str(out))
        print(f"[jobflow_bench] {label}: {wall:.3f} s, cpu {cpu:.2f} s", file=sys.stderr)
        dumps = ("counts_text", "assoc_text", "pair_vectors_text", "pair_vectors.arff")
        return {
            "jobflow_s": wall,
            "cpu_s": cpu,
            "shuffle_mb": self.counters.totals(self.counters.job_ids(label)).shuffle_write_bytes / MB,
            "output_mb": (disk_bytes(out) - before) / MB,
            "cv_f1_similar": metrics["f1_similar"],
            "cv_accuracy": metrics["accuracy"],
            "sinks_mb": sum(disk_bytes(out / d) for d in dumps) / MB,
        }

    def run(self, trace: bool) -> dict:
        if not trace:
            session = self.start_session()
            return {**session, **self.flow("flow")}
        from jobflow_bench.layers import LayerReport
        from jobflow_bench.probes import RssSampler

        with RssSampler() as rss:
            report = LayerReport(self, self.start_session())
            report.traced_flow("traced")
            report.extras()
        report.values["process.peak_rss_mb"] = rss.peak
        spans = ROOT / ".jobflow_bench" / "spans"
        spans.mkdir(parents=True, exist_ok=True)
        report.tracer.dump(str(spans / f"{self.name}-seed{self.job['seed']}-{self.index}.jsonl"))
        return report.values_by_name()


def child_main(work: Path, index: int, trace: bool, checkpoints: bool) -> int:
    job = json.loads((work / "job.json").read_text())
    inv = Invocation(job, index)
    try:
        if checkpoints:
            inv.write_checkpoints()
            return 0
        result = inv.run(trace)
    finally:
        if hasattr(inv, "spark"):
            inv.stop_session()
    result["outdirs"] = inv.outdirs
    result["driver_heap"] = inv.driver_heap
    print(json.dumps(result))
    return 0


# -- the run (parent process) -------------------------------------------------
def prepare(name: str, seed: int, work: Path) -> tuple[dict, dict]:
    """Inputs and oracle expectations: work done once per run, outside
    every timed region."""
    from jobflow_bench.check import expectations

    inputs = generate(WORKLOADS[name].spec, seed, str(work))
    expected = expectations(inputs["corpus"], inputs["gold"])
    inputs["properties"]["distinct_lexemes"] = expected["lexemes"]
    return inputs, expected


_child: subprocess.Popen | None = None  # the running invocation, if any


def become_subreaper() -> None:
    """PR_SET_CHILD_SUBREAPER: processes orphaned below this one (a killed
    invocation's JVM and Python workers) are re-parented to it."""
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)


def stop_child() -> None:
    """Kill the running invocation and every process below it, and reap
    them all.  Its process group is not enough: PySpark's worker daemon
    puts itself in a process group of its own."""
    from jobflow_bench.probes import process_tree

    global _child
    if _child is None:
        return
    _child = None
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        while True:
            os.waitpid(-1, 0)
    except ChildProcessError:  # no children left
        pass


def invoke(work: Path, index: int, trace: bool, deadline: float, checkpoints: bool = False) -> dict | None:
    """One invocation; its result, or None if it exited with an error or
    was still running at ``deadline``."""
    global _child
    args = [sys.executable, __file__, "--child", str(work), "--index", str(index), "--trace", str(int(trace))]
    _child = proc = subprocess.Popen(args + ["--checkpoints"] * checkpoints, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.perf_counter()))
    except subprocess.TimeoutExpired:
        print(f"[jobflow_bench] invocation {index} ran past the deadline: killed", file=sys.stderr)
        return None
    finally:
        stop_child()  # also reaps anything the invocation left behind
    lines = out.strip().splitlines()
    if proc.returncode != 0 or (not lines and not checkpoints):
        print(f"[jobflow_bench] invocation {index} exited with {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1]) if lines else {}


def conditions(name: str, seed: int, inputs: dict, results: list[dict], prep_s: float, warm_s: list) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    wl = WORKLOADS[name]
    return {
        "workload": name,
        "seed": seed,
        "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        "driver_heap": results[0]["driver_heap"],
        "host_mem_gb": round(mem_kb / 2**20, 1),
        "jvm_and_stemmer_memo": "cold: one fresh JVM per invocation",
        "folds": wl.folds,
        "trees": wl.trees,
        "resume_text_dumps": wl.resume,
        "invocations": len(results),
        "inputs_and_oracle_s": round(prep_s, 2),
        "page_cache_warm_s": [round(w, 2) for w in warm_s],
        "inputs": inputs["properties"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", type=Path, help=argparse.SUPPRESS)
    ap.add_argument("--index", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--checkpoints", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # a terminated run still stops its session and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.child:
        return child_main(args.child, args.index, bool(args.trace), args.checkpoints)
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    become_subreaper()

    problem = preflight()
    if problem:
        print(f"[jobflow_bench] pre-flight failed: {problem}", file=sys.stderr)
        return 2
    work = ROOT / ".jobflow_bench" / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    configure_env(work)
    try:
        problem = worker_import_check(work)
        if problem:
            print(f"[jobflow_bench] pre-flight failed: {problem}", file=sys.stderr)
            return 2
        return measure(args, work)
    finally:
        stop_child()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: Path) -> int:
    from jobflow_bench.check import check_flow

    t0 = time.perf_counter()
    inputs, expected = prepare(args.workload, args.seed, work)
    prep_s = time.perf_counter() - t0
    job = {"workload": args.workload, "seed": args.seed, "work": str(work), "inputs": inputs}
    (work / "job.json").write_text(json.dumps(job))
    deadline = T_START + DEADLINE_S
    libraries, warm_s = library_files(), []
    if WORKLOADS[args.workload].resume:
        warm_s.append(warm_page_cache(libraries))
        if invoke(work, -1, False, deadline, checkpoints=True) is None:
            print("[jobflow_bench] set-up failed: the resume checkpoints were not written", file=sys.stderr)
            return 1

    results, attempted, failed = [], 0, 0
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        warm_s.append(warm_page_cache(libraries))
        result = invoke(work, attempted, bool(args.trace), deadline)
        took = time.perf_counter() - t
        attempted += 1
        try:
            errors = ["invocation failed"] if result is None else check_flow(result["outdirs"][0], expected)
        except Exception as exc:  # noqa: BLE001 -- e.g. an output the flow never wrote
            errors = [f"check raised {exc!r}"]
        if errors:
            failed += 1
            print(f"[jobflow_bench] flow {attempted - 1} failed: {errors[:5]}", file=sys.stderr)
        else:
            results.append(result)
        if result is not None:
            shutil.rmtree(result["outdirs"][0], ignore_errors=True)
        now = time.perf_counter()
        if now - start + took / 2 >= args.seconds or now + took >= deadline:
            break

    if not results:
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
        return 1
    if args.trace:
        from jobflow_bench.layers import PER_LAYER as units
    else:
        units = E2E_UNITS
    metrics = {k: {"value": statistics.median(r[k] for r in results), "unit": u} for k, u in units.items()}
    print(json.dumps(conditions(args.workload, args.seed, inputs, results, prep_s, warm_s)))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
