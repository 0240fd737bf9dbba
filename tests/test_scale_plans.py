"""Physical-plan assertions: the plans we'd want at 100 TB, checked
mechanically so regressions fail CI.

- the flagship's enrichment is an inline map lookup (no join, no
  broadcast); a range-keyed dim is a broadcast JVM literal relation
  (no Python worker)
- flagship has exactly the aggregate exchanges (no accidental ones)
- parquet scans PUSH filters and PRUNE columns
- hour-partitioned layout prunes partitions on time predicates
- minhash self-join is NOT broadcast (the expensive-subplan trap)
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# a plan line: tree markers, then the node (an optional "*(n) " codegen
# stage id, then its name); the node's column gives its depth
_NODE = re.compile(r"^[\s:+|-]*((?:\*\(\d+\) )?(\w+))")


def broadcast_build_leaves(plan: str) -> list[str]:
    """Leaf operator names under every BroadcastExchange in a plan
    string (the broadcast build sides, through AQE query stages)."""
    nodes = [
        (m.start(1), m.group(2))
        for m in map(_NODE.match, plan.splitlines()) if m
    ]
    leaves = []
    for i, (col, name) in enumerate(nodes):
        if name != "BroadcastExchange":
            continue
        sub = []
        for c, n in nodes[i + 1:]:
            if c <= col:
                break
            sub.append((c, n))
        leaves += [
            n for j, (c, n) in enumerate(sub)
            if j + 1 == len(sub) or sub[j + 1][0] <= c
        ]
    return leaves


def assert_dims_built_in_jvm(df) -> None:
    """No Python on the plan: no PythonRDD scan, no Python UDF node,
    and every broadcast build side reads a JVM literal relation."""
    df.collect()
    plan = plan_of(df)
    assert "ExistingRDD" not in plan, plan
    assert "EvalPython" not in plan, plan
    leaves = broadcast_build_leaves(plan)
    assert leaves and set(leaves) == {"LocalTableScan"}, (leaves, plan)


def test_enrich_is_inline_and_single_agg_shuffle(spark, sf_dir):
    from vrl_spark.plans import weblog
    from vrl_spark.plans.queries_functions import vrl_math_ip_enrich

    plan = plan_of(weblog.full_pipeline(spark, sf_dir))
    # the lang dim is a map literal in a projection: no join of any
    # kind and nothing broadcast
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "ExistingRDD" not in plan and "EvalPython" not in plan, plan
    # exchanges: the two-phase distinct-agg pair; no more
    shuffle_exchanges = plan.count("Exchange hashpartitioning")
    assert shuffle_exchanges <= 2, plan
    # the range-keyed dim stays a literal relation: building its
    # broadcast starts no Python worker (a Python-list createDataFrame
    # is an ExistingRDD scan)
    assert_dims_built_in_jvm(vrl_math_ip_enrich(spark, sf_dir))


def test_parquet_filter_pushdown_and_column_pruning(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "lang")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """Hour-partitioned pages (the Iceberg layout stand-in): a warc_ts
    hour predicate must hit partition pruning, not a full scan."""
    from vrl_spark.plans.weblog import load_pages

    out = str(tmp_path / "pages_by_hour")
    (
        load_pages(spark, sf_dir)
        .withColumn("hour", F.date_format("warc_ts", "yyyyMMddHH"))
        .write.partitionBy("hour").parquet(out)
    )
    back = spark.read.parquet(out).where(F.col("hour") == "2024010100")
    plan = plan_of(back)
    assert "PartitionFilters: [isnotnull(hour" in plan
    n_all = spark.read.parquet(out).count()
    n_one = back.count()
    assert 0 < n_one < n_all


def test_minhash_join_not_broadcast(spark, sf_dir):
    from vrl_spark.plans.queries_textops import dedup_minhash_lsh

    plan = plan_of(dedup_minhash_lsh(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_similarity_broadcasts_queries_not_corpus(spark, sf_dir):
    from vrl_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    plan = plan_of(brute_force_topk(emb, q, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ivf_broadcasts_probes_not_corpus(spark, sf_dir):
    """IVF-Flat: centroids and query probes ride as broadcasts; the
    corpus-sized relations never do (the probe join must be a
    BroadcastHashJoin on list_id with the corpus on the streamed
    side), and nothing falls back to a cartesian product. Candidate
    scoring is ONE Arrow-batched cosine eval (r7 — order-exact
    batched_cosine replaced the interpreted JVM fold; values pinned
    by test_brute_force_topk etc.); never a row-at-a-time
    BatchEvalPython."""
    from vrl_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    plan = plan_of(ivf_topk(emb, q, n_lists=8, nprobe=3, k=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_ivf_assign_is_map_only(spark, sf_dir):
    """The IVF index build never shuffles the corpus: the only
    Exchange in the whole assignment plan is the single-partition
    collect_list over the n_lists centroid rows (under the
    BroadcastExchange); the corpus side is a pure projection —
    no hashpartitioning anywhere, no Python eval."""
    from vrl_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, n_lists=8)
    plan = plan_of(ivf_assign(emb, cents))
    assert "Exchange hashpartitioning" not in plan, plan
    # corpus side (everything before the broadcast) has NO exchange
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in corpus_side, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_whole_stage_codegen_covers_parse(spark, sf_dir):
    """The parse stage must stay inside whole-stage codegen (no
    Python, no interpreted projection)."""
    from vrl_spark.plans import weblog

    df = weblog.parse_stage(weblog.load_pages(spark, sf_dir))
    plan = plan_of(df.select("status_int", "bytes_int", "error"))
    # '*(N)' prefixes mark WholeStageCodegen stages in the plan string
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_onepass_parse_runs_regex_once(spark, sf_dir):
    """Round-1 regression: Catalyst inlined the one-pass struct into
    every projected field (44 regexp_replace nodes in the syslog plan,
    28 in the flagship). With the Generate barrier, each compiled
    pattern appears EXACTLY once in the physical plan."""
    from vrl_spark.plans import weblog
    from vrl_spark.plans.queries_functions import vrl_syslog_suite

    flag = plan_of(weblog.full_pipeline(spark, sf_dir))
    # ACCESS + LOGFMT = 2 compiled patterns -> exactly 2 regex passes
    assert flag.count("regexp_replace") == 2, flag
    sys_plan = plan_of(vrl_syslog_suite(spark, sf_dir))
    # RFC5424 + RFC3164 = 2 compiled patterns
    assert sys_plan.count("regexp_replace") == 2, sys_plan


# py4j commands that building the flagship aggregate over a pages
# frame sends, leaving out py4j's releases of dropped JVM objects
# (their timing depends on earlier work): 99 with SQL-text stages and
# the dim as a map literal, 117 when the dim was a broadcast-joined
# VALUES relation, ~2,160 when every stage was a chain of Column
# constructors.
_FLAGSHIP_BUILD_COMMANDS = 99


def test_flagship_build_cost_and_plan_shape(spark, sf_dir):
    """The flagship build stays a few py4j round trips (every stage is
    SQL text), and its executed plan keeps one Generate barrier pair
    and one regexp_replace per pattern, the two aggregate Exchanges
    and no broadcast join."""
    import gc

    from vrl_spark.plans import weblog

    pages = weblog.load_pages(spark, sf_dir)
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(cmd, *args, **kwargs):
        sent.append(cmd)
        return send(cmd, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        df = weblog.aggregate_stage(weblog.routed_stage(spark, pages))
    finally:
        del client.send_command
        gc.enable()
    built = [c for c in sent if not c.startswith("m\nd\n")]
    assert len(built) <= 1.5 * _FLAGSHIP_BUILD_COMMANDS, len(built)

    plan = plan_of(df)
    nodes = [m.group(2) for m in map(_NODE.match, plan.splitlines()) if m]
    assert nodes.count("Generate") == 4, plan
    assert plan.count("regexp_replace") == 2, plan
    assert nodes.count("Exchange") == 2, plan
    assert nodes.count("BroadcastHashJoin") == 0, plan


def test_flagship_call_jobs(spark, sf_dir, jobs_of, tmp_path):
    """One flagship call over a pages table read from parquet (the
    schema read, the two aggregate shuffle stages and the result) runs
    4 Spark jobs; a broadcast-joined dim added a fifth, to build it."""
    from vrl_spark.plans import weblog

    path = str(tmp_path / "pages")
    weblog.load_pages(spark, sf_dir).repartition(8).write.parquet(path)

    def call():
        pages = spark.read.parquet(path)
        return weblog.aggregate_stage(weblog.routed_stage(spark, pages)).collect()

    rows, jobs = jobs_of(call)
    assert rows and jobs == 4, jobs


def test_find_table_row_no_fact_shuffle(spark, sf_dir):
    """Round-1 regression: first-match-wins used a window over fact_id,
    shuffling the entire fact stream. Now first-match resolves inside
    the broadcast dim: the plan must contain NO hash-partitioning
    exchange and NO sort on the fact side."""
    from vrl_spark.plans.queries_functions import vrl_math_ip_enrich

    plan = plan_of(vrl_math_ip_enrich(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    # The dim-side groupBy (a few rows, under the BroadcastExchange) is
    # the ONLY allowed shuffle; everything above the broadcast — the
    # fact stream — must be exchange-free.
    fact_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in fact_side, plan


def test_embedding_dedup_join_shape(spark, sf_dir):
    """Embedding near-dup: BOTH candidate-generation self-joins (sign
    blocks + SemDeDup clusters) must be shuffled equi-joins on their
    bucket keys — never a broadcast of the expensive bucketed corpus
    subplan, never a cartesian — and the cosine fold runs once per
    pair (Generate barrier keeps the filter from re-running it). The
    SemDeDup keep rule's broadcasts of TINY frames (the 1-row
    centroid map attach, the n-group winners join) are the wanted
    plan, so broadcast joins are no longer banned outright; the
    corpus-sized pair joins staying ShuffledHashJoin is what the
    count pins."""
    from vrl_spark.operators.similarity import semantic_dedup_pairs
    from vrl_spark.plans.queries_textops import dedup_embedding_cosine

    plan = plan_of(dedup_embedding_cosine(spark, sf_dir))
    # the sem_pairs lane is localCheckpointed inside the vehicle (its
    # join shape is pinned standalone below), so the final plan shows
    # the signblock self-join
    assert "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    sem = plan_of(semantic_dedup_pairs(
        emb, n_clusters=8, threshold=0.95, id_col="vec_id", vec_col="v"
    ))
    assert "ShuffledHashJoin" in sem, sem
    assert "CartesianProduct" not in sem, sem
    # the corpus side of the cluster self-join is never broadcast
    # (the only broadcast is the folded 1-row centroid array)
    assert sem.count("BroadcastHashJoin") == 0, sem


def test_hash_split_is_pure_projection(spark, sf_dir):
    """Dataset splits add ZERO exchanges: the assignment is a scalar
    expression over the scan (survives any 100x scale-up for free)."""
    from vrl_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    plan = plan_of(sampling.split_table(docs, "doc_id",
                                        {"train": 0.8, "val": 0.1, "test": 0.1}))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_documents_one_shuffle_one_arrow_walk(spark, sf_dir):
    """Packing = one shuffle (the group-by-shard collect) + ONE
    Arrow-batched linear greedy walk over the per-group doc list + the
    id join back. (r7: the walk replaced a JVM aggregate fold whose
    array_append accumulator copied O(rows^2) per group; pack ids are
    integer-exact-identical — see test_sampling's packing contracts.)
    Never a row-at-a-time BatchEvalPython, never a cartesian."""
    from vrl_spark.operators import sampling
    from vrl_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", textstats.token_count(F.col("text")).alias("n_tokens")
    )
    plan = plan_of(sampling.pack_documents(docs, budget=256))
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dedup_clusters_no_cartesian(spark):
    """The CC loop's joins are all equi-joins on id/label — a cross
    join anywhere would be quadratic at scale."""
    from vrl_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    out = dedup.dedup_clusters(pairs)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_new_textops_plan_shapes(spark, sf_dir):
    """Plan-shape pins for the round-3 additions: shuffle counts and
    zero-Python stay locked as the code evolves."""
    from vrl_spark import registry

    qs = registry.queries()
    # pii scrub + entity extraction (merged vehicle): still map-only
    # past the scan — the ONLY exchange allowed is the r7 adaptive
    # scan fan-out (round-robin, no key), which disappears whenever
    # the input is properly split; never a hash/range shuffle, never
    # Python
    plan = plan_of(qs["text_pii_entities"](spark, sf_dir))
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1 and "EvalPython" not in plan
    # url dedup: exactly the one aggregation shuffle
    plan = plan_of(qs["dedup_url"](spark, sf_dir))
    assert plan.count("Exchange") == 1 and "EvalPython" not in plan
    # stratified sample: one key shuffle; rank-filter pushdown keeps
    # only ~n rows per stratum ahead of the final sort
    plan = plan_of(qs["dataset_stratified"](spark, sf_dir))
    assert plan.count("Exchange") == 1 and "EvalPython" not in plan
    assert "WindowGroupLimit" in plan
    # as-of: dim-distinct + the carry-forward window, and NO join
    # operator on the event path (union lowering, no range explosion)
    plan = plan_of(qs["events_asof"](spark, sf_dir))
    assert plan.count("Exchange") == 2 and "EvalPython" not in plan
    assert "Join" not in plan
    # line+span dedup chain: bounded relational pipeline, no Python.
    # The span pass adds the gram count/join/cover subplans on top of
    # the line pass (ld feeds the span base and rides keep_cols — no
    # self-join re-execution of the line subplan).
    plan = plan_of(qs["text_line_dedup"](spark, sf_dir))
    assert plan.count("Exchange") <= 22 and "EvalPython" not in plan


def test_lineage_metrics_plan_shape(spark, sf_dir):
    """Lineage manifest aggregation: exactly one shuffle (map-side
    partial agg on the route/hour keys), zero Python, and the
    xxh64 production fingerprint stays a native JVM expression."""
    from vrl_spark import registry
    from vrl_spark.operators.checkpoint import lineage_metrics
    from vrl_spark.plans import weblog

    qs = registry.queries()
    plan = plan_of(qs["pipeline_lineage_metrics"](spark, sf_dir))
    # one shuffle exchange and nothing else: the 15-row enrichment dim
    # is a map literal, not a broadcast
    assert plan.count("Exchange") == 1
    assert "BroadcastExchange" not in plan
    assert "EvalPython" not in plan
    # the multiset fingerprint (sum mod prime) must actually be in
    # the aggregate, not optimized away or moved driver-side (the
    # executed-plan string truncates long function lists, so check
    # the untruncated optimized logical plan)
    spark.conf.set("spark.sql.debug.maxToStringFields", "500")
    try:
        full = (
            qs["pipeline_lineage_metrics"](spark, sf_dir)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert "pmod" in full
    # production engine: xxhash64 directly over typed columns
    df = weblog.routed_stage(spark, weblog.load_pages(spark, sf_dir))
    from pyspark.sql import functions as F

    prod = lineage_metrics(
        df, [F.col("route")], F.col("text"),
        [F.col("doc_id"), F.col("url")],
    )
    pplan = plan_of(prod)
    assert "xxhash64" in pplan and "md5" not in pplan
    assert pplan.count("Exchange") == 1
    assert "EvalPython" not in pplan


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    """Storage bucketing = the pre-shuffle you pay once: two tables
    bucketed by the join key on the same bucket count join with ZERO
    exchanges (the 100 TB recipe for repeated fact-fact joins —
    Iceberg bucket partition transforms give the same property)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    other = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_other")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the test proves the BUCKETED path, not
        # the small-table path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (docs.write.bucketBy(8, "doc_id").sortBy("doc_id")
         .mode("overwrite").saveAsTable("b_docs"))
        (other.write.bucketBy(8, "doc_id").sortBy("doc_id")
         .mode("overwrite").saveAsTable("b_other"))
        joined = spark.table("b_docs").join(spark.table("b_other"), "doc_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it computes the right thing
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_other")


def test_bloom_incremental_plan_shape(spark):
    """Bloom prefilter: the membership path is explode + equi-join +
    bool_and groupBy — relational end to end, zero Python, and the
    probe side computes the incoming distinct exactly once (the
    membership result is NOT re-joined onto its own input)."""
    from vrl_spark.operators import bloom

    base = spark.range(1000).selectExpr("cast(id as string) as k")
    inc = spark.range(500, 1500).selectExpr("cast(id as string) as k")
    plan = plan_of(bloom.incremental_dedup(base, inc, "k"))
    assert "EvalPython" not in plan
    # inline-build ingest shape: incoming distinct (1), base distinct
    # for the filter build (1), bit_or build agg (1) + its broadcast
    # (1), base distinct for the exact join (1) + its broadcast (1);
    # the membership agg reuses the incoming distinct's partitioning
    # -> no hidden extra shuffles
    assert plan.count("Exchange") <= 6
    # the incoming Range must appear at most twice (probe source +
    # exact-join probe), not three times (the old re-join shape)
    assert plan.count("Range (500, 1500") <= 2


def test_bigram_lm_final_plan_shape(spark, sf_dir):
    """Trained-LM scoring runs ONCE into the checkpoint; the returned
    plan only merges percentile buffers (one SinglePartition exchange
    over 1-row-per-partition buffers) and bucket-labels the
    checkpointed doc frame — no recomputation of the token joins."""
    from vrl_spark.operators.retrieval import bigram_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", "text", "true AS tr"
    )
    out = bigram_perplexity(docs, "tr")
    plan = plan_of(out)
    assert "EvalPython" not in plan
    # post-checkpoint: the token-join chain is gone from this plan
    assert "Scan parquet" not in plan
    assert plan.count("SinglePartition") == 1


def test_html_main_text_map_only(spark):
    """HTML extraction + boilerplate removal is ONE map-only stage:
    a single Arrow eval (the parser UDF evaluated once behind the
    materialize barrier — not re-triggered by the filter/when
    consumers) and ZERO exchanges/joins."""
    from vrl_spark.operators import htmlx

    df = spark.createDataFrame(
        [(0, "<p>hello world block</p>")], ["doc_id", "html"]
    )
    plan = plan_of(htmlx.html_main_text(
        df, min_chars=3, stopwords=["the"], min_stopword_ratio=0.0
    ))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
