"""Spans recorded around calls into the package's public functions.

``Tracer`` keeps spans in memory: name, start, end, parent, the job
flow's id, and the Spark job ids that ran inside.  ``instrument``
swaps the module attributes the job flow looks up for wrappers that
open a span, call the original, and force the stage output at the span
boundary (persist + count), so a span's time is the time of its own
stage.  Forcing breaks Catalyst's fusion across stages, so the traced
run reports its job-flow time (``trace.jobflow_traced_s``) to set
against the untraced ``jobflow_s``.  Nothing in the package is edited:
everything is restored on exit.
"""

from __future__ import annotations

import importlib
import json
import time
from contextlib import ExitStack, contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    flow: str
    start: float
    end: float = 0.0
    jobs: set[int] = field(default_factory=set)
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``jobs_in_flow`` returns the Spark job
    ids the current flow has run so far (``None``: no Spark)."""

    def __init__(self, jobs_in_flow=None):
        self.spans: list[Span] = []
        self.flow = ""
        self._stack: list[Span] = []
        self._jobs = jobs_in_flow or (lambda: set())
        #: forced spans whose output the current flow discards: forcing
        #: them would add work the untraced flow never does
        self.unforced: set[str] = set()

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str):
        parent = self.current
        s = Span(len(self.spans), name, parent.id if parent else None, self.flow, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        before = self._jobs()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = self._jobs() - before
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, last = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return span.duration - covered

    def find(self, name: str, flow: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.flow == flow]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["jobs"] = sorted(s.jobs)
                rec["self_s"] = self.self_time(s)
                f.write(json.dumps(rec) + "\n")


def force(df):
    """Materialize a DataFrame at a span boundary; returns it persisted
    and its row count."""
    df = df.persist()
    return df, df.count()


def instrument(tracer: Tracer) -> ExitStack:
    """Wrap the job flow's calls into the package with spans; the
    returned stack restores every original on close."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.sql import DataFrameReader, DataFrameWriter

    from semantic_similarity_system_using_aws_mapreduce_spark import run_pipeline
    from semantic_similarity_system_using_aws_mapreduce_spark.plans import pipeline

    from jobflow_bench.probes import python_worker_ms

    # the operators package re-exports the function under the module's name
    pv_mod = importlib.import_module(
        "semantic_similarity_system_using_aws_mapreduce_spark.operators.pair_vectors"
    )

    stack = ExitStack()

    def patch(owner, attr, wrapper_factory):
        original = getattr(owner, attr)
        if attr in vars(owner):
            stack.callback(setattr, owner, attr, original)
        else:  # inherited method: drop the shadowing attribute again
            stack.callback(delattr, owner, attr)
        setattr(owner, attr, wrapper_factory(original))

    def spanned(name, forced=False):
        def factory(fn):
            def wrapper(*args, **kwargs):
                with tracer.span(name) as s:
                    out = fn(*args, **kwargs)
                    if forced and name not in tracer.unforced:
                        out, s.counts["rows"] = force(out)
                    return out

            return wrapper

        return factory

    def emissions_factory(fn):
        # the stem UDF runs in read_biarcs' projection: force the parsed
        # and stemmed corpus in its own child span, and read the UDF's
        # Python time off that cached plan, then force the emissions
        def wrapper(corpus):
            with tracer.span("sources.biarcs") as s:
                with tracer.span("sources.biarcs.read") as r:
                    corpus, r.counts["rows"] = force(corpus)
                r.counts["python_worker_ms"] = python_worker_ms(corpus.sparkSession, corpus)
                out, s.counts["rows"] = force(fn(corpus))
                return out

        return wrapper

    def counts_factory(fn):
        def wrapper(emissions, *args, **kwargs):
            with tracer.span("operators.counts"):
                counts = fn(emissions, *args, **kwargs)
                with tracer.span("operators.counts.pair_counts") as p:
                    counts.pair_counts, p.counts["rows"] = force(counts.pair_counts)
                with tracer.span("operators.counts.marginals"):
                    counts.lexeme_counts, _ = force(counts.lexeme_counts)
                    counts.feature_counts, _ = force(counts.feature_counts)
                    counts.totals, _ = force(counts.totals)
                return counts

        return wrapper

    patch(run_pipeline, "run", spanned("run_pipeline.run"))
    patch(run_pipeline, "semantic_similarity_pipeline", spanned("plans.pipeline"))
    patch(pipeline, "read_biarcs", spanned("sources.biarcs.plan"))
    patch(pipeline, "token_emissions", emissions_factory)
    patch(pipeline, "corpus_counts", counts_factory)
    patch(pipeline, "association_measures", spanned("operators.assoc", forced=True))
    patch(pipeline, "read_gold_standard", spanned("sources.gold", forced=True))
    patch(pipeline, "pair_vectors", spanned("operators.pair_vectors", forced=True))
    patch(pv_mod, "pair_feature_matrix", spanned("operators.pair_vectors.align", forced=True))
    patch(pv_mod, "similarity_measures", spanned("operators.similarity"))
    for name in ("write_counts_text", "write_assoc_text", "write_pair_vectors_text", "write_arff"):
        patch(run_pipeline, name, spanned(f"sources.sinks.{name}"))
    patch(run_pipeline, "classify", spanned("run_pipeline.classify"))
    patch(run_pipeline, "cross_validate_random_forest", spanned("ml.classify"))
    # plain functions set on a class become methods: ``self`` passes through
    patch(DataFrameWriter, "parquet", spanned("parquet_write"))
    patch(DataFrameReader, "parquet", spanned("parquet_read"))
    patch(RandomForestClassifier, "fit", spanned("ml.classify.fold_fit"))
    return stack
