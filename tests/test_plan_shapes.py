"""Physical-plan shape regression tests: the properties that make the
workload scale to 100 TB are plan properties, not output properties —
a refactor can keep every oracle green while silently introducing a
shuffle, losing a broadcast, or de-vectorizing a kernel.  Lock them.

Each assertion here encodes a design decision documented in the
operator docstrings:

  * per-document ops (simhash, chunking, PII redaction, hash
    sampling) are MAPS — zero exchanges of any kind;
  * small-side joins (frequency tables, thresholds, eval shingle
    sets, centroid tables) are broadcast, never sort-merge;
  * bucketed ANN joins are equi-joins — never a cartesian /
    broadcast-nested-loop explosion;
  * parquet scans prune columns (a 2-column projection must not read
    the full 5-column documents schema).

Plan text comes from EXPLAIN FORMATTED; with AQE on, Spark prints the
initial plan, which is exactly what we want to pin (AQE can only
improve it at runtime, e.g. demoting a sort-merge to broadcast)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def n_shuffles(plan: str) -> int:
    # Shuffle exchanges print as "Exchange hashpartitioning(...)" /
    # "Exchange rangepartitioning(...)"; broadcast exchanges print as
    # "BroadcastExchange" and are NOT counted here.
    return plan.count("hashpartitioning") + plan.count("rangepartitioning")


@pytest.mark.parametrize(
    "name",
    [
        "q_simhash",          # Arrow kernel: fingerprint is per-document
        "q_doc_chunks",       # sequence+posexplode+slice per doc
        "q_pii_redaction",    # regexp chain per doc
        "q_stratified_sample",  # md5-bucket filter per doc
        "q_lang_id",          # per-doc n-gram scoring
        "q_rolling_fingerprint",  # per-doc rolling hash
        "q_regex_token_stats",  # per-doc token counting
        "q_doc_quality",      # per-doc stats
        "q_embedding_quantization",  # per-vector int8 quantization
    ],
)
def test_per_document_ops_have_zero_exchanges(spark, name):
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES[name](spark, SF_DIR))
    assert n_shuffles(plan) == 0, f"{name} gained a shuffle:\n{plan}"
    assert "BroadcastExchange" not in plan, f"{name} gained a broadcast:\n{plan}"


@pytest.mark.parametrize(
    "name",
    [
        "q_lm_quality",       # kilobyte frequency table
        "q_quality_gate",     # per-language thresholds
        "q_decontaminate",    # eval shingle set
        "q_tfidf_top_terms",  # document-frequency table
        "q_acctbal_share",    # S5 counters pattern: 1-row agg side
    ],
)
def test_small_side_joins_are_broadcast(spark, name):
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES[name](spark, SF_DIR))
    assert "BroadcastExchange" in plan, f"{name} lost its broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan, (
        f"{name} joins its broadcast-sized side with a sort-merge:\n{plan}"
    )


@pytest.mark.parametrize(
    "name",
    [
        "q_ann_lsh_topk",
        "q_minhash_lsh_candidates",
        "q_simhash_near_dups",
        "q_interval_join",  # bin-bucketed range join
    ],
)
def test_bucketed_pairwise_stages_never_go_cartesian(spark, name):
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}:\n{plan}"


def test_projection_prunes_parquet_columns(spark):
    """A 2-column query over the 5-column documents table must push the
    projection into the scan (ReadSchema lists only what's needed)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES["q_exact_dedup"](spark, SF_DIR))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for line in scans:
        assert "n_chars" not in line and "source" not in line, (
            f"documents scan reads pruned columns:\n{line}"
        )


def test_filter_pushed_to_scan(spark):
    """A selective filter on a scanned column must reach the parquet
    reader as PushedFilters, not run post-scan only."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan, plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("lang" in l for l in pushed), plan


def test_event_sequences_is_one_window_pass(spark):
    """q_event_sequences promises the k-predecessor context in ONE
    per-user sort — a join-based formulation would multiply shuffles
    by k."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES["q_event_sequences"](spark, SF_DIR))
    assert n_shuffles(plan) == 1, f"gained a shuffle:\n{plan}"
    assert "SortMergeJoin" not in plan and "Join" not in plan, plan


@pytest.mark.parametrize("name", ["q_source_mixture", "q_span_scrub"])
def test_round4_curation_queries_never_sort_merge_the_corpus(spark, name):
    """q_source_mixture's rate table (k strata) and q_span_scrub's
    position sets (bounded by duplicated volume) are the small sides
    of their joins — the corpus must meet them via broadcast, never a
    corpus-wide sort-merge."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES[name](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, f"{name}:\n{plan}"
    assert "BroadcastExchange" in plan, f"{name} lost its broadcast:\n{plan}"
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_bloom_probe_is_broadcast_only(spark):
    """q_bloom_dedup's bitmap (m/63 words) is constant-size regardless
    of how many keys were indexed — the probe side must meet it via a
    one-row broadcast cross-join and a map-side element_at
    conjunction.  The ONLY hash shuffles allowed are the one-time
    filter BUILD (bit_or groupBy over probe positions) and the
    exact-audit branch (distinct over the indexed digests); the probe
    itself must add ZERO (VERDICT r4 flagged the earlier
    explode+re-groupBy probe that shuffled the corpus by key)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES["q_bloom_dedup"](spark, SF_DIR))
    assert "BroadcastExchange" in plan, f"lost the bitmap broadcast:\n{plan}"
    assert "CartesianProduct" not in plan, plan
    assert n_shuffles(plan) == 2, f"probe gained a shuffle:\n{plan}"


def test_bloom_probe_operator_adds_no_shuffle(spark):
    """Operator-level pin: probing ANY relation against a built Bloom
    bitmap adds no exchange beyond the build's own — the probe is a
    pure map over the probed side (broadcast + SinglePartition bitmap
    collapse are constant-size and not counted by n_shuffles)."""
    from pyspark.sql import functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.md5("text").alias("key")
    )
    idx = spark.createDataFrame([("a",), ("b",)], "key string")
    bloom = bloom_build(idx, m_bits=1 << 12, k=3)
    probed = bloom_probe(docs, bloom, m_bits=1 << 12, k=3)
    assert n_shuffles(plan_of(probed)) == n_shuffles(plan_of(bloom)), plan_of(
        probed
    )


def test_dsir_ratio_table_is_broadcast(spark):
    """q_dsir_select's log-ratio table (n_buckets rows) is constant-
    size — the per-(doc, bucket) count relation must meet it via
    BroadcastHashJoin.  The plan's BroadcastNestedLoopJoin-Cross nodes
    are the 1-row totals cross-joins (the S5 counters pattern) and are
    fine; a CartesianProduct (both sides unbroadcast) is not."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES["q_dsir_select"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, f"ratio join lost its broadcast:\n{plan}"
    assert "CartesianProduct" not in plan, plan


def test_bm25_probe_is_broadcast_only_no_corpus_sort_merge(spark):
    """q_bm25_search's only shuffles are over query-term postings (the
    token stream is filtered against the BROADCAST query-term set
    BEFORE any aggregation); doc length is map-side F.size, the
    corpus never meets anything via sort-merge, and N/sum_dl is the
    1-row counters-pattern broadcast."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES["q_bm25_search"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hybrid_rrf_no_corpus_sort_merge(spark):
    """q_hybrid_rrf composes the BM25 arm (broadcast-only, pinned
    above) with the dense arm: the 3-row query-vector set must meet
    the embeddings via broadcast, never sort-merge, and the fusion
    never degenerates to a CartesianProduct."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    plan = plan_of(ALL_QUERIES["q_hybrid_rrf"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_blocked_cosine_single_data_shuffle(spark):
    """cosine_pairs_blocked shuffles the replicated vectors exactly
    once (the block-pair groupBy); the block-pair relation meets the
    data via broadcast.  No collect happens at plan time (pinned in
    test_ann) and no sort-merge/cartesian appears."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.ann import cosine_pairs_blocked

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(cosine_pairs_blocked(emb, 0.4, n_blocks=8))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert n_shuffles(plan) == 1, f"blocked path gained a shuffle:\n{plan}"


def test_funnel_exact_dedup_is_partial_aggregate_not_window_sort(spark):
    """r10: the curation funnel's exact-dedup stage must stay the
    aggregate-and-join-back shape — a survivor-id aggregate WITH a
    map-side partial pass (a crawler-trap hot digest collapses
    before the shuffle) and NO window sort of the digest partitions
    (the row_number form sorted each digest's whole copy set in one
    task).  Pinned for both survivor rules."""
    import datetime as _dt

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import tokens  # noqa: F401
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"text {i % 5}", _dt.datetime(2026, 1, 1 + i % 7)) for i in range(20)],
        "doc_id long, text string, fetched_at timestamp",
    )
    # reproduce the funnel's stage expressions (curate() itself writes
    # output files; the plan property lives in this subtree)
    staged = docs.withColumn(
        "_digest", F.coalesce(F.md5("text"), F.lit("__null_text__"))
    )
    for pick in (
        F.min("doc_id"),
        F.max(F.struct(F.col("fetched_at").alias("f"), F.col("doc_id").alias("d")))["d"],
    ):
        keepers = staged.groupBy("_digest").agg(pick.alias("_keep_id"))
        joined = staged.join(keepers, "_digest")
        plan = plan_of(joined)
        assert "partial_min" in plan or "partial_max" in plan, plan
        assert "Window" not in plan, plan


def plan_tree(plan: str):
    """EXPLAIN FORMATTED -> (name, parent, detail) per operator id."""
    body = plan.split("== Physical Plan ==\n", 1)[1]
    tree, _, details = body.partition("\n\n\n")
    name, parent, stack = {}, {}, []
    for line in tree.splitlines():
        m = re.match(r"^([ :+\-]*)(.+) \((\d+)\)$", line)
        depth, node = len(m.group(1)), int(m.group(3))
        while stack and stack[-1][0] >= depth:
            stack.pop()
        name[node] = m.group(2).split()[0]
        parent[node] = stack[-1][1] if stack else None
        stack.append((depth, node))
    detail = {}
    for block in details.strip().split("\n\n"):
        m = re.match(r"\((\d+)\) ", block)
        if m:
            detail[int(m.group(1))] = block
    return name, parent, detail


def test_step4_ships_lexeme_vectors_not_pair_feature_rows(spark):
    """Step4 exchange budget.  Each gold word's association rows meet
    in ONE partial-aggregated shuffle (collect_list into a feature map);
    the maps reach the gold pairs by broadcast, and the per-(pair,
    feature) rows that the zero-fill explodes are summed per pair
    before any shuffle.  So every shuffle above the assoc scan sits
    directly on a partial aggregate.  The frames are in-memory, so
    their sizes are known and the maps are broadcast, as they are when
    Step4 reads a small assoc checkpoint back."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.pair_vectors import pair_vectors

    assoc = spark.sql(
        """SELECT * FROM VALUES
             ('aa', 'f1', 1D, 0.1D, 1D, 0.1D), ('aa', 'f2', 2D, 0.2D, 2D, 0.2D),
             ('bb', 'f2', 5D, 0.5D, 5D, 0.5D), ('cc', 'f3', 7D, 0.7D, 7D, 0.7D)
           AS assoc(lexeme, feature, assoc_freq, assoc_prob, assoc_pmi, assoc_ttest)"""
    )
    gold = spark.sql(
        """SELECT * FROM VALUES ('aa', 'bb', true), ('bb', 'aa', false), ('aa', 'zz', true)
           AS gold(word1, word2, related)"""
    )
    name, parent, detail = plan_tree(plan_of(pair_vectors(assoc, gold)))

    def ancestors(node):
        while parent[node] is not None:
            node = parent[node]
            yield node

    def is_partial_aggregate(node):
        return name[node].endswith("Aggregate") and "partial_" in detail[node]

    scans = [n for n in name if "Scan" in name[n] and "assoc_freq" in detail[n]]
    shuffles = {n for n in name if name[n] == "Exchange"}
    plan = "\n".join(detail.values())
    # every shuffle above the assoc scan sits on a partial aggregate
    above_assoc = shuffles & {a for s in scans for a in ancestors(s)}
    assert above_assoc, plan
    for node in above_assoc:
        (child,) = [n for n in name if parent[n] == node]
        assert is_partial_aggregate(child), (name[child], node, plan)
    # the aligned rows reach no shuffle: a per-pair partial sum comes first
    (align,) = [n for n in name if name[n] == "Generate" and "map_zip_with" in detail[n]]
    path = []
    for node in ancestors(align):
        if node in shuffles:
            assert any(is_partial_aggregate(n) for n in path), plan
        path.append(node)
