#!/usr/bin/env python
"""EXPLAIN FORMATTED of Step4 (``pair_vectors``) on one seeded job-flow
benchmark input (``resume_dumps``' corpus and gold set), in the two
ways the pipeline builds it:

  * ``checkpointed``: assoc read back from the Step2+3 checkpoint, as
    every ``run_pipeline`` flow does;
  * ``in_plan``: ``semantic_similarity_pipeline`` without a
    checkpoint directory, so assoc is computed inside the same plan.

For each, the initial plan is written, then the plan is run once and
AQE's final plan is written too::

    python explain_step4.py <out_dir> [--seed 1]

writes ``<out_dir>/step4_{checkpointed,in_plan}_{initial,final}.txt``.
The package is imported from the checkout this file sits in, so a copy
of it in another checkout explains that checkout's Step4.  Put that
checkout on ``PYTHONPATH`` too: the stem UDF's Python workers import
the package.  The ``*_before.txt``/``*_after.txt`` files next to this
script are its output for the code before and after Step4 shipped one
feature map per gold word, with the temporary input directory shown
as ``<work>``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from jobflow_bench.gen import generate  # noqa: E402
from jobflow_bench.run import WORKLOADS  # noqa: E402
from semantic_similarity_system_using_aws_mapreduce_spark.operators.pair_vectors import (  # noqa: E402
    pair_vectors,
)
from semantic_similarity_system_using_aws_mapreduce_spark.plans.pipeline import (  # noqa: E402
    semantic_similarity_pipeline,
)
from semantic_similarity_system_using_aws_mapreduce_spark.session import get_spark  # noqa: E402
from semantic_similarity_system_using_aws_mapreduce_spark.sources.gold import (  # noqa: E402
    read_gold_standard,
)


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir", type=Path)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    args.out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="explain_step4", extra_conf={"spark.ui.showConsoleProgress": "false"})
    with tempfile.TemporaryDirectory() as work:
        inputs = generate(WORKLOADS["resume_dumps"].spec, args.seed, work)
        ckpt = f"{work}/checkpoints"
        semantic_similarity_pipeline(spark, inputs["corpus"], inputs["gold"], checkpoint_dir=ckpt)
        # the pipeline persists its pair counts: start each shape with no
        # cached relation, so the in-plan estimates are the planner's own
        spark.catalog.clearCache()
        shapes = {
            "checkpointed": lambda: pair_vectors(
                spark.read.parquet(f"{ckpt}/assoc.parquet"),
                read_gold_standard(spark, inputs["gold"]),
            ),
            "in_plan": lambda: semantic_similarity_pipeline(
                spark, inputs["corpus"], inputs["gold"]
            ).vectors,
        }
        for shape, build in shapes.items():
            vectors = build()
            (args.out_dir / f"step4_{shape}_initial.txt").write_text(explain(vectors))
            vectors.collect()
            (args.out_dir / f"step4_{shape}_final.txt").write_text(explain(vectors))
            spark.catalog.clearCache()


if __name__ == "__main__":
    main()
