"""Physical-plan regression tests: the scale properties SURVEY §4 calls
out must hold in the executed plans, not just in intent.

- dimension joins broadcast (no sort-merge on tiny sides)
- no row-at-a-time Python (BatchEvalPython) anywhere; Python only as
  Arrow-batched MapInPandas in the explicitly-Python multimodal ops
- column pruning reaches the parquet scan
- partition-column filters prune partitions on partitioned layouts
- whole-stage codegen present in hot paths
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# queries whose plans may legitimately contain Python stages — all are
# Arrow-batched (vectorized numpy kernels), never row-at-a-time:
# multimodal codecs, and the LSH hyperplane sketch's production twin
# (hyperplane_signs_arrow; the native fold remains the oracle surface,
# pinned equal in test_similarity.py)
_PYTHON_OK = {
    "multimodal_decode",
    "frame_sample",
    "embed_binary",
    "cosine_near_dup",
    # r13: SemDeDup composition over the hashed doc vectors — the
    # pinned nearest-centroid assignment + pair-cosine Arrow kernels
    "text_near_dup_pairs",
    "text_semantic_dedup",
    # same Arrow assignment kernel as stream_semantic_tag, over the
    # hashed doc vectors
    "text_topics",
    "lsh_ann_topk",
    "lsh_ann_topk_batch",
    "ann_join",  # same bucket+pair Arrow kernels (bit-equal, pinned)
    "hard_negatives",  # ann_join composition (same kernels)
    "simhash",           # Arrow vote fold (bit-equal to native, pinned)
    "simhash_near_dup",
    "minhash_signatures",  # Arrow lane kernel (bit-equal, pinned)
    "minhash_pairs",
    "near_dup_filter",
    # same Arrow lane kernel; unlike dedup_corpus/semantic_dedup (whose
    # component step runs eagerly, so their RETURNED plan is already
    # Python-free) these return the lazy banded-join frame itself
    "minhash_join",
    "dedup_increment",
    "compression_ratio",  # deliberate Arrow lane: stdlib zlib DEFLATE
    "normalize_text",  # deliberate Arrow lane: stdlib unicodedata NFC
    # r10 Arrow assignment kernel (nearest_centroid_arrow, bit-equal
    # pinned): these return the lazy scan+assign plan itself — the
    # served/trained family materializes or checkpoints first, so only
    # the inline probes carry the Python stage in their returned plan
    "ivf_ann_topk",
    "ivf_ann_topk_trained",
    # r13: two ivf_assign projections on the same pinned
    # nearest-centroid Arrow kernel (the returned plan is the lazy
    # assign+count+join frame)
    "ivf_update_report",
    # r11: pair_cosine_arrow dot lane over normalized embeddings
    # (bit-equal pinned in test_similarity.py)
    "semantic_dedup_pairs_normalized",
    # r11: encode_codes_arrow PQ lane (bit-equal incl. degenerate
    # widths, pinned in test_pq.py) — both the brute ADC row and the
    # IVF-PQ served composition return the lazy encode+score plan
    "pq_topk",
    "pq_ivf_topk_served",
    # r12: the exact re-rank's stage-1 shortlist is the same Arrow
    # encode lane; decontaminate/cluster-sample ride the pinned
    # pair-cosine / hyperplane-signs / nearest-centroid kernels
    "pq_rerank_topk",
    "semantic_decontaminate",
    "cluster_balanced_sample",
    "stream_semantic_tag",  # ivf_assign arrow lane (stateless tagger)
    # r12: rq_codes_arrow greedy-encode lane (bit-equal pinned in
    # test_rq.py) — both RQ rows return the lazy encode+score plan
    "rq_topk",
    "rq_rerank_topk",
    # r14: pair_cosine_arrow lane over the served-index cid blocks
    # (bit-equal pinned in test_similarity.py; the native fold is the
    # oracle surface) — the returned plan is the lazy pair+vote frame
    "knn_label_noise_report",
    "knn_classify",  # same pinned pair-cosine kernel, gold x query pairs
    # r14: the block-kernel lane (applyInPandas/FlatMapGroupsInPandas,
    # one matmul per cid block; pinned value-identical to both pair
    # lanes in test_similarity.py)
    "knn_label_noise_blocked",
    # r14: composes minhash_pairs (pinned minhash Arrow lane) with the
    # narrow split coin — the returned plan is the lazy band-join frame
    "split_leakage_report",
    # r15: the same pinned encode_codes_arrow kernel as the pq rows
    # (training + encode in the returned lazy plan); the decode is a
    # literal lookup, JVM-side
    "pq_reconstruction_error_report",
    # r15: composes the pinned minhash Arrow lane (the minhash_pairs
    # candidate side) with the native exact-Jaccard truth side — the
    # returned plan is the lazy audit join over both
    "minhash_recall_audit",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(entry_mod.QUERIES))
def test_no_row_python_udfs(spark, name):
    df = entry_mod.QUERIES[name](spark, SF)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"
    if name not in _PYTHON_OK:
        # FlatMapGroupsInPandas (applyInPandas) does NOT contain the
        # "MapInPandas" substring — check it explicitly or grouped
        # kernels slip the guard (r14)
        assert (
            "MapInPandas" not in plan
            and "ArrowEvalPython" not in plan
            and "FlatMapGroupsInPandas" not in plan
        ), f"{name} crosses into Python unexpectedly"


def test_semi_join_broadcasts(spark):
    plan = _plan(entry_mod.QUERIES["topk_semi_join"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_dim_join_broadcasts(spark):
    plan = _plan(entry_mod.QUERIES["join_nation_region"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _plan(entry_mod.QUERIES["pricing_summary"](spark, SF))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, "no parquet scan found"
    # only the 5 needed lineitem columns, not all 11
    assert "l_orderkey" not in scan_lines[0]
    assert "l_quantity" in scan_lines[0]


def test_whole_stage_codegen(spark):
    df = entry_mod.QUERIES["group_counts"](spark, SF)
    df.collect()  # AQE: codegen spans only appear in the finalized plan
    # '*(n)' prefixes mark WholeStageCodegen spans in the tree string
    assert "*(1)" in _plan(df)


def test_partial_aggregation(spark):
    """groupBy count must partial-aggregate map-side before the shuffle."""
    df = entry_mod.QUERIES["group_counts"](spark, SF)
    optimized = df._jdf.queryExecution().executedPlan().toString()
    assert optimized.count("HashAggregate") >= 2  # partial + final


def test_partition_pruning_on_lang_layout(spark, tmp_path):
    """Filters on the lang partition column must prune directories."""
    from dgraph_dbpedia_spark.sources.writers import write_partitioned_by
    from dgraph_dbpedia_spark.sources.parquet import read_triples_parquet

    df = spark.createDataFrame(
        [(f"s{i}", "p", "o", lang) for i in range(20) for lang in ("de", "en", "vi")],
        ["s", "p", "o", "lang"],
    )
    path = str(tmp_path / "triples.parquet")
    write_partitioned_by(df, ["lang"], ["s"], ["p", "o"], path=path)
    pruned = read_triples_parquet(spark, path, ["de"])
    plan = _plan(pruned)
    scan = [l for l in plan.splitlines() if "FileScan" in l or "PartitionFilters" in l]
    assert any("lang" in l and ("PartitionFilters" in l) for l in scan), plan
    assert pruned.count() == 20


def test_ttl_filter_pushdown(spark, tmp_path):
    """A predicate filter over parsed ttl pushes the comment filter into
    the scan stage (single stage, no shuffle)."""
    from dgraph_dbpedia_spark.sources.ttl import read_ttl

    p = tmp_path / "x.ttl"
    p.write_text("<a> <b> <c> .\n")
    df = read_ttl(spark, str(p), lang="en")
    plan = _plan(df)
    assert "Exchange" not in plan  # pure scan+project, no shuffle


def test_read_triples_parquet_success_only_dir(spark, tmp_path):
    """A dataset empty under the selected languages writes a
    _SUCCESS-only dir; the S4 fallback must return an empty typed frame,
    not raise UNABLE_TO_INFER_SCHEMA."""
    from dgraph_dbpedia_spark.model import TRIPLE_SCHEMA
    from dgraph_dbpedia_spark.sources.parquet import read_triples_parquet
    from dgraph_dbpedia_spark.sources.writers import write_partitioned_by

    p = str(tmp_path / "empty.parquet")
    write_partitioned_by(
        spark.createDataFrame([], TRIPLE_SCHEMA),
        partition_cols=["lang"],
        more_file_cols=["s"],
        sort_cols=["p", "o"],
        path=p,
    )
    df = read_triples_parquet(spark, p)
    assert df.count() == 0
    assert df.columns == ["s", "p", "o", "lang"]


def test_geo_to_geojson_malformed_literal_yields_nulls(spark):
    """One malformed georss literal must not kill the job under ANSI
    mode (reference behavior: null coordinates)."""
    from dgraph_dbpedia_spark.functions.rdf import geo_to_geojson
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [('"52.52 13.40"',), ('"52.52 north-ish"',)], ["o"]
    )
    rows = df.select(geo_to_geojson(F.col("o")).alias("g")).collect()
    assert "52.52" in rows[0]["g"]
    assert rows[1]["g"] is not None  # produced, not crashed


def test_write_rdf_empty_frame_clears_stale_output(spark, tmp_path):
    """Re-running a sink with an empty frame must remove the previous
    run's files (overwrite semantics), not report them as this run's."""
    from dgraph_dbpedia_spark.model import TRIPLE_SCHEMA
    from dgraph_dbpedia_spark.plans.transform import write_rdf

    out = str(tmp_path / "sink.rdf")
    full = spark.createDataFrame(
        [("<a>", "<p>", "<b>", "en")], ["s", "p", "o", "lang"]
    )
    frame, n = write_rdf(spark, full, out)
    assert n == frame.count() == 1
    empty = spark.createDataFrame([], TRIPLE_SCHEMA)
    frame, n = write_rdf(spark, empty, out)
    assert n == frame.count() == 0


def test_write_rdf_all_rows_filtered_reads_back_empty(spark, tmp_path):
    """A non-empty frame whose every predicate fails the '@'/'~'
    blacklist must behave like the empty frame: no _SUCCESS-only dir
    that crashes the read-back on the missing lang partition column
    (the empty-guard counts the FILTERED frame), and a previous run's
    files are overwritten away."""
    from dgraph_dbpedia_spark.plans.transform import read_rdf, write_rdf

    path = str(tmp_path / "allbad.rdf")
    good = spark.createDataFrame(
        [("<s>", "<p>", "<o>", "en")], ["s", "p", "o", "lang"]
    )
    out1, n1 = write_rdf(spark, good, path)
    assert n1 == out1.count() == 1  # a previous run left real files

    bad = spark.createDataFrame(
        [("<s>", "<p@bad>", "<o>", "en"), ("<s2>", "<p~bad>", "<o2>", "en")],
        ["s", "p", "o", "lang"],
    )
    out2, n2 = write_rdf(spark, bad, path)
    assert n2 == out2.count() == 0  # no crash, AND the old files are gone
    assert read_rdf(spark, path).count() == 0


def test_r13_operator_plan_shapes(spark):
    """Pin the scale-critical physical-plan properties of the r13
    additions (the .explain audit, made permanent):

    - token_percentiles exact lane: exactly ONE shuffle (the group
      window) and a scan pruned to (doc_id, text, source);
    - vocab_coverage: the bounded vocabulary meets the per-(group,
      token) mass via a BROADCAST join (never a shuffled join), and
      the src0 reference filter is PUSHED into its scan;
    - ivf_update_report: both assignment projections are
      broadcast/collect-based — no corpus Exchange before the cid
      count aggregations (the only Exchanges are the k-row aggs and
      joins, which is why it scales).
    """
    import __spark_entry__ as entry_mod

    tp = entry_mod.QUERIES["token_percentiles"](spark, SF)
    plan = _plan(tp)
    assert plan.count("Exchange") == 1, plan
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "text" in scan[0] and "source" in scan[0]
    assert "n_chars" not in scan[0]  # unused column pruned

    vc = entry_mod.QUERIES["vocab_coverage"](spark, SF)
    plan = _plan(vc)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "src0" in plan  # reference filter reached the scan side

    iur = entry_mod.QUERIES["ivf_update_report"](spark, SF)
    plan = _plan(iur)
    # corpus-side work is projection-only: every join in the plan is
    # broadcast (k-row spine/totals), never a shuffled corpus join
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_r14_operator_plan_shapes(spark):
    """Pin the scale-critical physical-plan properties of the r14
    additions (the .explain audit, made permanent):

    - rq_topk_served: the returned plan SCANS the materialized v5
      index (a parquet FileScan of rq_codes) and carries no encode/
      training subtree — the in-row rq_topk plan computes codes
      through the Arrow encode lane (a Python stage), the served plan
      reads them from parquet (no Python stage at all; the only
      aggregation is the bounded 2*k_sub-row codebook fold);
    - rq_ivf_topk_served: the coarse probe's literal cid predicate
      PARTITION-PRUNES the by-cid code lists at the scan;
    - knn_classify (registered row, de-quadratized r15 — VERDICT r14
      #1): the candidate set is the served IVF index's same-cid
      lists, so the plan carries NO corpus x corpus crossJoin shape
      (no CartesianProduct, no BroadcastNestedLoopJoin) — every join
      is an equi-join on cid / qid / nid.
    """
    import __spark_entry__ as entry_mod

    rts = entry_mod.QUERIES["rq_topk_served"](spark, SF)
    plan = _plan(rts)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert any("rq_codes" in ln or "codes" in ln for ln in scans), plan
    # no Python stage = codes come from the index, not the Arrow
    # encode lane the in-row training chain uses
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    ris = entry_mod.QUERIES["rq_ivf_topk_served"](spark, SF)
    plan = _plan(ris)
    assert (
        "PartitionFilters: [" in plan
        and "cid" in plan.split("PartitionFilters:")[1][:160]
    ), plan

    kc = entry_mod.QUERIES["knn_classify"](spark, SF)
    plan = _plan(kc)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_r15_operator_plan_shapes(spark):
    """Pin the scale-critical physical-plan properties of the r15
    additions (the .explain audit, made permanent):

    - filter_attrition_report: ONE aggregation chain (partial
      HashAggregate before the exchange, final after — map-side
      combine reduces every partition to one counter row), no Python
      stage, and exactly one shuffle of the counters;
    - pack_efficiency_report: the single per-shard window shuffle
      pack_offsets owns plus a partial-aggregable groupBy — no extra
      corpus-wide exchange beyond those two, no Python stage;
    - source_mixture_report: corpus never reshuffled — one groupBy
      bounded by the group count, scalars ride BROADCAST crossJoins
      (the X6 pattern), no SortMergeJoin anywhere.
    """
    import __spark_entry__ as entry_mod

    far = entry_mod.QUERIES["filter_attrition_report"](spark, SF)
    plan = _plan(far)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan, plan
    # one counter shuffle: the global agg's partial/final exchange
    assert plan.count("Exchange SinglePartition") <= 1, plan

    per = entry_mod.QUERIES["pack_efficiency_report"](spark, SF)
    plan = _plan(per)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan, plan
    # shuffles: the shard hashpartitioning for the window (reused by
    # the same-key groupBy) plus AQE bookkeeping — never a second
    # corpus-wide key
    assert plan.count("Exchange hashpartitioning") <= 2, plan

    smr = entry_mod.QUERIES["source_mixture_report"](spark, SF)
    plan = _plan(smr)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    # token_bucket_histogram: scan-fused projection + ONE
    # partial-aggregable groupBy (partial + final HashAggregate)
    tbh = entry_mod.QUERIES["token_bucket_histogram"](spark, SF)
    plan = _plan(tbh)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan

    # quantization_error_report: scales ride ONE broadcast row, the
    # corpus is never sort-merge joined, label agg partial-aggregates
    qer = entry_mod.QUERIES["quantization_error_report"](spark, SF)
    plan = _plan(qer)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan

    # ivf_list_skew_report: bounded groupBy + broadcast scalar row,
    # never a sort-merge join of the assignment frame
    ils = entry_mod.QUERIES["ivf_list_skew_report"](spark, SF)
    plan = _plan(ils)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan

    # pq_reconstruction_error_report: encode + literal decode + error
    # are one projection — the CORPUS is never sort-merge joined, and
    # the only aggregate chain is the bounded per-label one
    pre = entry_mod.QUERIES["pq_reconstruction_error_report"](spark, SF)
    plan = _plan(pre)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan

    # minhash_recall_audit: the audit's global counters partial-
    # aggregate (no corpus-sized rows reach the final 1-row agg)
    mra = entry_mod.QUERIES["minhash_recall_audit"](spark, SF)
    plan = _plan(mra)
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2, plan


# ---------------------------------------------------------------------------
# X6 crossJoin guard (VERDICT r16 #6): every BroadcastNestedLoopJoin in
# the registry must broadcast a PROVABLY BOUNDED side — the 1-row scalar
# aggregate frames the X6 pattern crossJoins onto the corpus (textstats /
# sampling / fusion). An unbounded BNLJ build side is a cartesian product
# at scale; the r16 plan audit inspected all 39 occurrences once, this
# turns that inspection into a standing gate.

#: node types that preserve-or-reduce their child's row count — walking
#: through them keeps a boundedness proof intact
_ROW_BOUNDED_PASSTHROUGH = {
    "Project",
    "Filter",
    "Exchange",
    "BroadcastExchange",
    "Sort",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "CollectMetrics",
    "Coalesce",
}


def _iter_plan_nodes(node):
    """Walk a physical plan INCLUDING the trees children() hides: the
    cached plan behind every InMemoryTableScan and the plans of
    (scalar/in) subqueries — the served/topk rows keep their probe
    corpus in an InMemoryRelation whose inner plan carries the X6
    crossJoin, invisible to a children()-only walk."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _iter_plan_nodes(children.apply(i))
    if node.nodeName() == "InMemoryTableScan":
        yield from _iter_plan_nodes(node.relation().cachedPlan())
    if node.nodeName() == "AdaptiveSparkPlan":
        # a leaf wrapper (cached relations embed their own AQE plans):
        # walk the current physical plan, falling back to the input
        # plan when AQE hasn't materialized one yet
        try:
            yield from _iter_plan_nodes(node.executedPlan())
        except Exception:
            yield from _iter_plan_nodes(node.inputPlan())
    subqueries = node.subqueries()
    for i in range(subqueries.size()):
        yield from _iter_plan_nodes(subqueries.apply(i))


def _scan_like(node) -> bool:
    """True iff the subtree is a plain relation read — leaf scans under
    row-preserving operators only (no joins, aggregates, generates,
    unions). Used to qualify keyed-lookup filters below."""
    name = node.nodeName()
    children = node.children()
    if children.size() == 0:
        return True
    if name in _ROW_BOUNDED_PASSTHROUGH or name.startswith("WholeStageCodegen"):
        return all(_scan_like(children.apply(i)) for i in range(children.size()))
    return False


def _leaf_scan_small(node, spark, limit=64) -> bool:
    """Dynamic fallback for UNFILTERED leaf scans of data-contract
    singleton relations the plan can't express (e.g. the quantized
    served index's one-row `scales` parquet): read the scan's own
    location and require <= ``limit`` rows. Corpus relations still
    fail — every sf0.001 table has >= 500 rows — so an accidental
    corpus-sized build side is caught with evidence, while a metadata
    relation passes with evidence instead of prose."""
    m = re.search(r"Location: \w+\(\d+ paths?\)\[([^\]]+)\]", node.toString())
    if m is None or "..." in m.group(1):
        return False
    paths = [p.replace("file:", "") for p in m.group(1).split(", ")]
    try:
        return spark.read.parquet(*paths).limit(limit + 1).count() <= limit
    except Exception:
        return False


def _build_side_bounded(node, spark) -> bool:
    """True iff this physical subtree provably yields a bounded number
    of rows: an ungrouped aggregate (exactly 1 row), a small
    GlobalLimit/LocalLimit/TakeOrderedAndProject, a LocalTableScan
    (driver-literal data), an equality-to-literal keyed lookup over a
    plain scan (the served/topk rows' query-vector and codebook probes
    — multiplicity is a data contract the plan can't express: vec_id
    is unique, codebooks hold <=k_sub rows per level; the gate's real
    target, an UNFILTERED corpus relation on the build side, still
    fails), a cross of bounded sides, a leaf scan of a <=64-row
    metadata relation (checked by READING it — :func:`_leaf_scan_small`),
    or a row-preserving chain ending in one of those. Joins of scans,
    corpus scans, explodes, unions all fail."""
    name = node.nodeName()
    simple = node.simpleString(100)
    if "Aggregate" in name and "keys=[]" in simple:
        return True  # ungrouped aggregate: exactly one row
    if name in ("GlobalLimit", "LocalLimit"):
        try:
            return int(simple.split()[1].rstrip(",")) <= 1000
        except (IndexError, ValueError):
            return False
    if name == "TakeOrderedAndProject":
        m = re.search(r"limit=(\d+)", simple)
        return m is not None and int(m.group(1)) <= 1000
    if name == "BroadcastNestedLoopJoin":
        # a cross of bounded sides is bounded (the query-constant
        # frames are themselves assembled by X6 crossJoins)
        children = node.children()
        return children.size() == 2 and all(
            _build_side_bounded(children.apply(i), spark) for i in range(2)
        )
    if name == "Filter":
        # keyed lookup: attribute = literal (RHS carries no #id ref)
        eq_rhs = re.findall(r"#\d+\w*\s=\s([^\s)]+)", node.simpleString(1000))
        if any("#" not in tok for tok in eq_rhs):
            children = node.children()
            return children.size() == 1 and _scan_like(children.apply(0))
    if name == "LocalTableScan" or name.startswith("Scan ExistingRDD"):
        # driver-side literal rows (createDataFrame of query vectors /
        # codebook matrices), already bounded
        return True
    if name == "ReusedExchange":
        # references another exchange already checked where it appears
        return True
    children = node.children()
    if children.size() == 0:
        return _leaf_scan_small(node, spark)
    if name in _ROW_BOUNDED_PASSTHROUGH or name.startswith("WholeStageCodegen"):
        ok = children.size() > 0
        for i in range(children.size()):
            ok = ok and _build_side_bounded(children.apply(i), spark)
        return ok
    return False


@pytest.mark.parametrize("name", sorted(entry_mod.QUERIES))
def test_bnlj_broadcast_side_bounded(spark, name):
    df = entry_mod.QUERIES[name](spark, SF)
    qe = df._jdf.queryExecution()
    # sparkPlan (pre-AQE-wrap) is traversable: AdaptiveSparkPlanExec in
    # executedPlan is a leaf wrapper that would hide the tree
    root = qe.sparkPlan()
    nodes = list(_iter_plan_nodes(root))
    bnlj = [n for n in nodes if n.nodeName() == "BroadcastNestedLoopJoin"]
    # consistency guard against UNDER-traversal: the walk must surface
    # at least every BNLJ the tree string shows (nodes print as
    # "BroadcastNestedLoopJoin BuildX, type"; the string also inlines
    # InMemoryRelation inner plans and subqueries, which the walk
    # reaches explicitly — duplicates from shared cached plans are
    # harmless, missing nodes are not)
    assert len(bnlj) >= root.toString().count("BroadcastNestedLoopJoin")
    for n in bnlj:
        side = n.buildSide().toString()
        children = n.children()
        build = children.apply(1 if side == "BuildRight" else 0)
        assert _build_side_bounded(build, spark), (
            f"{name}: BroadcastNestedLoopJoin build side is not provably "
            f"bounded (X6 contract):\n{build.toString()}"
        )
