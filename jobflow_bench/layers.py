"""Per-layer metrics of the traced run.

Layers are the modules the job flow crosses.  Times come from spans
(trace.py) around calls into each module's public functions; Spark
counters come from the status store for the jobs that ran inside each
span.  Measurements that are not part of the job flow itself (the
parse-only corpus read, the driver-side Porter rate, and the sinks on
workloads whose flow writes no text dumps) run after the traced flow,
in spans of their own flow ``extras``.

State of the stemmer's worker memo (``sources/biarcs.py``
``_TOK_CACHE``/``_STEM_CACHE``) and of the JIT behind each stemming
figure:

* ``stemming.python_worker_s``: the stem UDF's ``pythonTotalTime`` in
  the traced flow's own forced corpus read -- fresh JVM, empty memo.
* ``biarcs.parse_s``: a ``stem=False`` read after the flow -- warm JIT,
  no UDF, so no memo.
* ``stemming.stem_s``: the traced flow's forced corpus read (cold, as
  above) minus ``biarcs.parse_s``; it carries the cold-JVM share of the
  read as well as the stem UDF.
* ``stemming.porter_words_per_s``: ``porter_stem`` on the driver over
  the generated vocabulary; ``porter_stem`` has no memo of its own.

A resume flow reads the emission checkpoint and never stems: its
stemming times are 0 and ``biarcs.emission_rows`` is the checkpoint's
row count.
"""

from __future__ import annotations

import time
from pathlib import Path

import pyarrow.parquet as pq

from jobflow_bench.probes import StageTotals, disk_bytes
from jobflow_bench.trace import Tracer, force, instrument

MB = 2**20

# name -> unit, in the order they are reported
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_python_task_s": "s",
    "biarcs.parse_s": "s",
    "biarcs.emission_rows": "count",
    "biarcs.dropped_rows": "count",
    "stemming.stem_s": "s",
    "stemming.python_worker_s": "s",
    "stemming.porter_words_per_s": "1/s",
    "stemming.distinct_token_share": "ratio",
    "gold.read_s": "s",
    "counts.step1_s": "s",
    "counts.shuffle_records": "count",
    "counts.shuffle_mb": "MB",
    "counts.pair_rows": "count",
    "counts.combine_ratio": "ratio",
    "assoc.step23_s": "s",
    "assoc.shuffle_mb": "MB",
    "assoc.rows": "count",
    "pair_vectors.step4_s": "s",
    "pair_vectors.aligned_rows": "count",
    "pair_vectors.shuffle_mb": "MB",
    "pair_vectors.rows": "count",
    "classify.step5_s": "s",
    "classify.jobs": "count",
    "classify.tasks": "count",
    "classify.fold_fit_s": "s",
    "sinks.text_dumps_s": "s",
    "sinks.arff_s": "s",
    "sinks.mb_written": "MB",
    "pipeline.checkpoint_write_s": "s",
    "pipeline.checkpoint_read_s": "s",
    "pipeline.plan_build_s": "s",
    "trace.jobflow_traced_s": "s",
    # peak resident memory of the invocation's process tree (driver JVM
    # and Python workers).  Reported here, not end to end: under the
    # program's 32g default heap it is set by when G1 expands the heap
    # and varied 3.8-6.1 GB between seeds of one workload (4 cores,
    # 15.7 GB host).
    "process.peak_rss_mb": "MB",
}
RUNTIME_LAYERS = ("biarcs", "counts", "assoc", "pair_vectors", "classify", "sinks", "pipeline")
for _layer in RUNTIME_LAYERS:
    PER_LAYER[f"{_layer}.jobs"] = "count"
    PER_LAYER[f"{_layer}.gc_s"] = "s"
    PER_LAYER[f"{_layer}.spill_mb"] = "MB"
    PER_LAYER[f"{_layer}.executor_run_s"] = "s"

_SINKS = ("write_counts_text", "write_assoc_text", "write_pair_vectors_text")


class LayerReport:
    """Collects the spans of one traced invocation and turns them into
    the per-layer metrics."""

    def __init__(self, bench, session: dict):
        self.bench = bench  # the run.Invocation whose flow is traced
        self.tracer = Tracer(self._flow_jobs)
        self.values: dict[str, float] = {
            "session.get_spark_s": session["get_spark_s"],
            "session.first_python_task_s": session["first_python_task_s"],
            "stemming.distinct_token_share": bench.inputs["properties"]["distinct_token_share"],
        }

    def _flow_jobs(self) -> set[int]:
        return self.bench.counters.job_ids(self.tracer.flow)

    def _totals(self, spans) -> StageTotals:
        jobs = set().union(*(s.jobs for s in spans)) if spans else set()
        return self.bench.counters.totals(jobs)

    @staticmethod
    def _runtime(layer: str, t: StageTotals) -> dict:
        return {
            f"{layer}.jobs": t.jobs,
            f"{layer}.gc_s": t.gc_ms / 1e3,
            f"{layer}.spill_mb": t.spill_bytes / MB,
            f"{layer}.executor_run_s": t.executor_run_ms / 1e3,
        }

    # -- the traced flow --------------------------------------------------
    def traced_flow(self, label: str) -> None:
        tr = self.tracer
        tr.flow = label
        # a resume flow recomputes assoc lazily and then reads its
        # checkpoint instead, so the recomputed relation is never run
        tr.unforced = {"operators.assoc"} if self.bench.wl.resume else set()
        with instrument(tr):
            rec = self.bench.flow(label)
        self.values.update(self._flow_metrics(label, rec))

    def _flow_metrics(self, label: str, rec: dict) -> dict:
        tr = self.tracer

        def spans(name):
            return tr.find(name, label)

        def secs(name):
            return sum(s.duration for s in spans(name))

        m: dict[str, float] = {"trace.jobflow_traced_s": secs("run_pipeline.run")}
        m["gold.read_s"] = secs("sources.gold")

        read, biarcs = spans("sources.biarcs.read"), spans("sources.biarcs")
        m["biarcs.flow_read_s"] = secs("sources.biarcs.read")
        m["stemming.python_worker_s"] = sum(s.counts["python_worker_ms"] for s in read) / 1e3
        if biarcs:
            m["biarcs.emission_rows"] = sum(s.counts["rows"] for s in biarcs)
        else:  # resume flow: Step1 reads the emission checkpoint
            m["biarcs.emission_rows"] = pq.read_table(
                self.bench.ckpt / "emissions.parquet", columns=["lexeme"]
            ).num_rows
        m.update(self._runtime("biarcs", self._totals(biarcs)))

        m["counts.step1_s"] = secs("operators.counts")
        pc = spans("operators.counts.pair_counts")
        t = self._totals(pc)
        m["counts.shuffle_records"] = t.shuffle_write_records
        m["counts.shuffle_mb"] = t.shuffle_write_bytes / MB
        m["counts.pair_rows"] = sum(s.counts.get("rows", 0) for s in pc)
        m.update(self._runtime("counts", self._totals(spans("operators.counts"))))

        assoc = spans("operators.assoc")
        m["assoc.step23_s"] = secs("operators.assoc")
        t = self._totals(assoc)
        m["assoc.shuffle_mb"] = t.shuffle_write_bytes / MB
        if any("rows" in s.counts for s in assoc):
            m["assoc.rows"] = sum(s.counts.get("rows", 0) for s in assoc)
        else:  # resume flow: the assoc stage is its checkpoint
            m["assoc.rows"] = pq.read_table(
                self.bench.ckpt / "assoc.parquet", columns=["lexeme"]
            ).num_rows
        m.update(self._runtime("assoc", t))

        vec = spans("operators.pair_vectors")
        m["pair_vectors.step4_s"] = secs("operators.pair_vectors")
        m["pair_vectors.aligned_rows"] = sum(
            s.counts.get("rows", 0) for s in spans("operators.pair_vectors.align")
        )
        t = self._totals(vec)
        m["pair_vectors.shuffle_mb"] = t.shuffle_write_bytes / MB
        m["pair_vectors.rows"] = sum(s.counts.get("rows", 0) for s in vec)
        m.update(self._runtime("pair_vectors", t))

        cv = spans("ml.classify")
        m["classify.step5_s"] = secs("ml.classify")
        t = self._totals(cv)
        fits = sorted(s.duration for s in spans("ml.classify.fold_fit"))
        m["classify.fold_fit_s"] = fits[len(fits) // 2]
        m.update(self._runtime("classify", t))
        m["classify.tasks"] = t.tasks

        if self.bench.wl.resume:
            m.update(self._sinks_metrics(label, rec["sinks_mb"]))

        io = spans("parquet_write") + spans("parquet_read")
        m["pipeline.checkpoint_write_s"] = secs("parquet_write")
        m["pipeline.checkpoint_read_s"] = secs("parquet_read")
        m["pipeline.plan_build_s"] = sum(tr.self_time(s) for s in spans("plans.pipeline"))
        m.update(self._runtime("pipeline", self._totals(io)))
        return m

    def _sinks_metrics(self, flow: str, mb_written: float) -> dict:
        text = [s for name in _SINKS for s in self.tracer.find(f"sources.sinks.{name}", flow)]
        arff = self.tracer.find("sources.sinks.write_arff", flow)
        m = {
            "sinks.text_dumps_s": sum(s.duration for s in text),
            "sinks.arff_s": sum(s.duration for s in arff),
            "sinks.mb_written": mb_written,
        }
        m.update(self._runtime("sinks", self._totals(text + arff)))
        return m

    # -- measurements outside the flow ---------------------------------
    def extras(self) -> None:
        from semantic_similarity_system_using_aws_mapreduce_spark.functions.stemming import porter_stem
        from semantic_similarity_system_using_aws_mapreduce_spark.sources.biarcs import read_biarcs

        bench, tr = self.bench, self.tracer
        tr.flow = "extras"
        bench.sc.setJobGroup("extras", "extras")
        bench.spark.catalog.clearCache()
        with tr.span("sources.biarcs.parse_only") as s:
            _, rows = force(read_biarcs(
                bench.spark, bench.inputs["corpus"], stem=False, spread_to=bench.sc.defaultParallelism
            ))
        self.values["biarcs.parse_s"] = s.duration
        self.values["biarcs.dropped_rows"] = bench.wl.spec.lines - rows

        words = bench.inputs["words"]
        n, t0 = 0, time.perf_counter()
        while n == 0 or time.perf_counter() - t0 < 0.5:
            for w in words:
                porter_stem(w)
            n += len(words)
        self.values["stemming.porter_words_per_s"] = n / (time.perf_counter() - t0)

        if not bench.wl.resume:
            self._sinks_extras()
        bench.spark.catalog.clearCache()
        bench.sc.setJobGroup("idle", "idle")

    def _sinks_extras(self) -> None:
        """Text dumps and ARFF of the traced flow's stage outputs, for
        workloads whose job flow writes none."""
        from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import CorpusCounts
        from semantic_similarity_system_using_aws_mapreduce_spark.sources import sinks

        bench, tr = self.bench, self.tracer
        read = bench.spark.read.parquet
        ck = Path(bench.outdirs[0])
        counts = CorpusCounts(
            read(str(ck / "lexeme_counts.parquet")),
            read(str(ck / "feature_counts.parquet")),
            read(str(ck / "pair_counts.parquet")),
            None,
        )
        vectors = read(str(ck / "pair_vectors.parquet"))
        out = bench.work / "sinks"
        out.mkdir(exist_ok=True)
        calls = {
            "write_counts_text": lambda: sinks.write_counts_text(counts, str(out / "counts_text")),
            "write_assoc_text": lambda: sinks.write_assoc_text(
                read(str(ck / "assoc.parquet")), str(out / "assoc_text")
            ),
            "write_pair_vectors_text": lambda: sinks.write_pair_vectors_text(
                vectors, str(out / "pair_vectors_text")
            ),
            "write_arff": lambda: sinks.write_arff(vectors, str(out / "pair_vectors.arff")),
        }
        for name, call in calls.items():
            with tr.span(f"sources.sinks.{name}"):
                call()
        self.values.update(self._sinks_metrics("extras", disk_bytes(out) / MB))

    # -- report --------------------------------------------------------
    def values_by_name(self) -> dict[str, float]:
        """Every per-layer metric, in ``PER_LAYER`` order."""
        values = dict(self.values)
        values["counts.combine_ratio"] = values["biarcs.emission_rows"] / max(
            1, values["counts.shuffle_records"]
        )
        flow_read = values["biarcs.flow_read_s"]
        values["stemming.stem_s"] = flow_read - values["biarcs.parse_s"] if flow_read else 0.0
        return {k: values[k] for k in PER_LAYER}
