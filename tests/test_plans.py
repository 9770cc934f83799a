"""Plan-quality gate: the physical plans Catalyst picks must show the
scale properties we designed for (SURVEY.md §4.2) — not just produce
correct rows. Each assertion names the 100 TB failure mode it guards.

These run against the static (pre-AQE) plan at sf0.01; sizes there make
every dimension broadcastable, which is exactly what we assert.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_pgwire_spark import registry
from duckdb_pgwire_spark.plans import inspect as I
from duckdb_pgwire_spark.session import load_table

from .conftest import SF_DIR


def _q(name):
    return registry.load_all()[name]


def test_q1_filter_pushdown_and_partial_agg(spark):
    """Guards: full-table scan at 100 TB (filter must reach parquet);
    shuffling raw rows instead of partial aggregates."""
    df = _q("q1_pricing_summary").fn(spark, SF_DIR)
    pushed = " ".join(I.pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed}"
    assert I.partial_agg_before_shuffle(df), "no map-side combine before shuffle"


def test_q1_column_pruning(spark):
    """Guards: reading all 16 lineitem columns for a 10-column query —
    scan width is the dominant I/O term on wide fact tables."""
    df = _q("q1_pricing_summary").fn(spark, SF_DIR)
    (cols,) = I.scan_read_columns(df)
    assert "l_comment" not in cols and "l_partkey" not in cols, cols
    assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols


def test_q3_broadcasts_dimensions_and_fuses_topk(spark):
    """Guards: shuffling the fact table to join a KB-sized dimension;
    global sort for an ORDER BY+LIMIT (must fuse to top-k)."""
    df = _q("q3_shipping_priority").fn(spark, SF_DIR)
    joins = I.join_nodes(df)
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins
    assert I.has_node(df, "TakeOrderedAndProject"), "ORDER BY+LIMIT not fused"


def test_q5_no_cartesian_and_fact_joins_keyed(spark):
    """Guards: a join-order accident producing nested-loop/cartesian on
    the 6-table star join."""
    df = _q("q5_local_supplier_volume").fn(spark, SF_DIR)
    joins = I.join_nodes(df)
    assert "CartesianProduct" not in joins and "BroadcastNestedLoopJoin" not in joins
    assert "BroadcastHashJoin" in joins  # dims broadcast


def test_projection_only_scan_reads_two_columns(spark):
    """Narrow projection must prune the scan to exactly what's selected."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    (cols,) = I.scan_read_columns(li)
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_dedup_exact_single_shuffle(spark):
    """Exact dedup must be one hash-shuffle on the content hash with
    map-side partial agg — shuffle volume O(distinct docs), not O(docs)."""
    df = _q("dedup_exact").fn(spark, SF_DIR)
    assert I.partial_agg_before_shuffle(df)
    assert I.exchange_count(df) == 1, I.simple_plan(df)


def test_topk_global_no_full_sort(spark):
    """ORDER BY+LIMIT must plan as TakeOrderedAndProject (no Exchange
    rangepartitioning — a full distributed sort of the fact table)."""
    df = _q("topk_global").fn(spark, SF_DIR)
    assert I.has_node(df, "TakeOrderedAndProject")
    assert "rangepartitioning" not in I.simple_plan(df)


def test_semi_join_is_semi_in_plan(spark):
    """EXISTS must stay a semi join (probe-side short circuit), never
    dedup-after-inner-join."""
    df = _q("join_semi").fn(spark, SF_DIR)
    assert "LeftSemi" in I.formatted_plan(df)


def test_lsh_join_probe_side_is_pruned(spark):
    """The LSH candidate join's query side must push the vec_id IN (...)
    predicate below the signature computation — probing 3 vectors, not
    re-bucketing the corpus twice."""
    from duckdb_pgwire_spark.ext.similarity import sim_lsh_bucketed

    df = sim_lsh_bucketed(spark, SF_DIR)
    plan = I.formatted_plan(df)
    assert "vec_id#" in plan
    pushed = " ".join(I.pushed_filters(df))
    assert "In(vec_id" in pushed, pushed


def test_whole_stage_codegen_covers_agg(spark):
    """The q1 aggregate pipeline must run inside whole-stage codegen
    (interpreted fallback = 10x row-at-a-time slowdown). AQE hides
    codegen markers in the static simple plan, so ask the codegen
    explain mode."""
    import contextlib
    import io
    import re

    df = _q("q1_pricing_summary").fn(spark, SF_DIR)
    df.collect()  # materialize AQE's final plan (codegen happens per stage)
    plan = I.formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert re.search(r"\[codegen id : \d+\]", plan), plan[:800]


def test_partitioned_sink_prunes_partitions(spark):
    """A filter on the hive-partition key must become a PartitionFilters
    entry (directory pruning at file-listing time), NOT a row-level
    post-scan filter — at 100 TB this is the difference between listing
    one directory and scanning every file."""
    df = _q("sink_partitioned_pruning").fn(spark, SF_DIR)
    plan = I.formatted_plan(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:1200]


def test_topk_per_group_gets_window_group_limit(spark):
    """row_number() <= k filters must trigger WindowGroupLimit (per-group
    top-k pruning BEFORE the full window sort) — without it every group's
    full row set sorts at the shuffle, which is the difference between
    O(k) and O(group size) memory per key at 100 TB."""
    df = _q("win_qualify_topk").fn(spark, SF_DIR)
    assert "WindowGroupLimit" in I.simple_plan(df)


def test_contamination_broadcasts_benchmark_set(spark):
    """Guards: shuffling the full corpus's shingles to meet the (small,
    bounded) benchmark shingle set — the bench side must broadcast so
    the corpus side stays map-local until the per-doc overlap count."""
    df = _q("text_contamination_check").fn(spark, SF_DIR)
    joins = I.join_nodes(df)
    assert "BroadcastHashJoin" in joins, joins
    assert "SortMergeJoin" not in joins, joins


def test_tfidf_topk_and_broadcast_vocab(spark):
    """Guards: (a) vocabulary join shuffling the (doc,word) side — the
    O(vocab) document-frequency table must broadcast; (b) top-3-per-doc
    sorting whole documents' term lists instead of WindowGroupLimit."""
    df = _q("text_tfidf_top_terms").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "WindowGroupLimit" in plan, plan[:1500]


def test_bucketed_join_has_no_join_exchange(spark):
    """Guards: the bucketed join re-shuffling its inputs anyway — with
    both sides bucketBy(8) on the key, the ONLY exchange in the plan
    must be the final groupBy; the sort-merge join reads the buckets'
    hash layout directly. At 100 TB this is zero join-time network
    traffic vs re-shuffling both tables every query."""
    df = _q("join_bucketed_colocated").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "SortMergeJoin" in plan, plan[:1500]
    assert I.exchange_count(df) == 1, plan[:1500]


def test_asof_join_is_single_shuffle(spark):
    """Guards: the asof recipe regressing to a pre-dedup groupBy (two
    exchanges) — union-merge needs exactly ONE shuffle: the window
    partition on user_id."""
    df = _q("join_asof").fn(spark, SF_DIR)
    assert I.exchange_count(df) == 1, I.simple_plan(df)[:1500]


def test_q7_q8_all_broadcast_no_cartesian(spark):
    """The 6- and 8-table TPC-H star joins must keep the fact table
    streaming: every join broadcast at this scale, never a cartesian or
    nested-loop fallback from the disjunctive nation-pair predicate."""
    for name in ("q7_volume_shipping", "q8_market_share"):
        df = _q(name).fn(spark, SF_DIR)
        joins = I.join_nodes(df)
        assert joins and all(j == "BroadcastHashJoin" for j in joins), (name, joins)


def test_q10_topk_fused(spark):
    """Q10's ORDER BY+LIMIT 20 must fuse to TakeOrderedAndProject —
    a global range-partitioned sort of the grouped result is the 100 TB
    failure mode."""
    df = _q("q10_returned_items").fn(spark, SF_DIR)
    assert I.has_node(df, "TakeOrderedAndProject")
    assert "rangepartitioning" not in I.simple_plan(df)
    pushed = " ".join(I.pushed_filters(df))
    assert "l_returnflag" in pushed, pushed  # flag filter reaches the scan


def test_q18_semi_join_on_aggregated_side(spark):
    """Q18's IN-subquery must plan as a semi join against the
    aggregated (small) order set — not an inner join + dedup."""
    df = _q("q18_large_volume_customers").fn(spark, SF_DIR)
    assert "LeftSemi" in I.formatted_plan(df)


def test_cluster_components_edges_computed_once(spark):
    """The connected-components entry must not re-run the minhash
    pipeline per iteration: the edge list is checkpointed, so the final
    plan contains no minhash kernel stages (they ran exactly once at
    build time)."""
    df = _q("dedup_cluster_components").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "ArrowEvalPython" not in plan and "mapInPandas" not in plan.lower(), plan


def test_q9_star_join_broadcasts_dims_and_pushes_like(spark):
    """Guards (r5 TPC-H additions): the 5-table star must broadcast the
    LIKE-pruned part plus supplier/nation (no fact shuffle for dims),
    and never degrade to a nested loop."""
    df = _q("q9_product_type_profit").fn(spark, SF_DIR)
    joins = I.join_nodes(df)
    assert "CartesianProduct" not in joins and "BroadcastNestedLoopJoin" not in joins
    assert joins.count("BroadcastHashJoin") >= 3, joins


def test_q19_disjunctive_residual_no_cartesian(spark):
    """Guards: the OR-of-ANDs predicate spanning both join sides must
    ride the p_partkey equi join as a residual — a planner that can't
    see the equi key under the disjunction falls back to a nested loop
    over lineitem x part."""
    df = _q("q19_disjunctive_revenue").fn(spark, SF_DIR)
    joins = I.join_nodes(df)
    assert "CartesianProduct" not in joins and "BroadcastNestedLoopJoin" not in joins
    assert "BroadcastHashJoin" in joins, joins


def test_q21_single_fact_pass_no_cartesian(spark):
    """Guards: the folded EXISTS/NOT EXISTS must stay a single
    aggregation pass over lineitem + a window — no self-join fallback,
    no nested loop; fact appears in exactly one scan."""
    df = _q("q21_waiting_suppliers").fn(spark, SF_DIR)
    joins = I.join_nodes(df)
    assert "CartesianProduct" not in joins and "BroadcastNestedLoopJoin" not in joins
    assert I.has_node(df, "Window")


def test_q4_semi_join_carries_equi_key(spark):
    """Guards: the correlated non-equi EXISTS (shipdate > orderdate+30d)
    must execute as an equi semi join on orderkey with a residual, not a
    nested loop."""
    df = _q("q4_order_priority").fn(spark, SF_DIR)
    joins = I.join_nodes(df)
    assert "CartesianProduct" not in joins and "BroadcastNestedLoopJoin" not in joins


def test_incremental_dedup_no_cartesian_one_band_join(spark):
    """Probing a batch against the band index must be ONE key-partitioned
    join on (band_idx, band_val) — no cartesian, and the window cap on
    the index side must not force extra exchanges beyond the band key."""
    df = _q("dedup_incremental_vs_index").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_probes_persisted_index(spark):
    """r7 (r6 verdict item 2): the index side must be the WRITE-ONCE
    bucketed band-index table — scanned bucketed with no exchange and
    no documents re-scan; only the incoming batch touches raw text
    (with the batch filter reaching the scan)."""
    df = _q("dedup_incremental_vs_index").fn(spark, SF_DIR)
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "bkt_band_index" in full
    # exactly ONE raw-text scan: the probe batch (served from the
    # exchange-free multi-file fixture copy since r12, falling back to
    # the original single parquet)
    n_scans = full.count("documents.parquet") + full.count(
        ".parallel_cache"
    )
    assert n_scans == 1, full[:2000]
    # the index-side scan is bucket-aligned (metadata layout, no shuffle)
    assert "Bucketed: true" in full
    # the batch filter is pushed into the documents scan, so the probe
    # side never signs the already-indexed corpus
    import re

    assert re.search(r"\(doc_id#\d+L? % 5\) = 0", full), full[:2000]


def test_mix_token_budget_single_source_shuffle(spark):
    """Token-budget mixing is one shuffle keyed by source (window
    cumsum), no global sort and no collect-driven plan."""
    df = _q("text_mix_token_budget").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "rangepartitioning" not in plan
    assert I.exchange_count(df) == 1, plan


def test_global_shuffle_is_bucket_parallel(spark):
    """The epoch-shuffle rank must be the two-pass bucket form: window
    partitioned by the md5-prefix bucket (hash exchange), never a
    global single-partition sort."""
    df = _q("sample_global_shuffle").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "SinglePartition" not in plan, plan


def test_semdedup_pairs_shuffle_on_cell_only(spark):
    """SemDeDup's within-cluster pair join must shuffle on the k-means
    cell id — no cartesian/all-pairs stage anywhere in the plan."""
    df = _q("dedup_semantic_kmeans").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mix_temperature_zero_shuffle_filter(spark):
    """The alpha-mix filter stage must be key-shuffle-free:
    probabilities arrive as a broadcast literal map, so the kept-docs
    plan is scan + filter (the loader's round-robin repartition is the
    only exchange — no hash/range partitioning, no join)."""
    df = _q("text_mix_temperature").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert "Join" not in plan, plan


def test_dup_span_fraction_hashes_before_shuffle(spark):
    """The span-frequency exchange must carry md5 span HASHES, not span
    text — at 100 TB the raw 10-word spans are ~60+ bytes vs 32 for the
    hash, and no all-pairs stage may appear."""
    df = _q("text_dup_span_fraction").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join/agg key everywhere is the hash column `h`
    assert "hashpartitioning(h" in plan, plan


def test_dsir_weights_no_corpus_join(spark):
    """DSIR scoring must look ratios up via the broadcast literal array
    — a join of the bigram stream against a ratio table would shuffle
    the corpus twice. Expected shuffles: bucket-count agg happens in a
    separate collect (metadata); the SCORING plan itself is scan →
    explode → element_at → one doc_id agg."""
    df = _q("text_dsir_weights").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "Join" not in plan, plan
    # one hash exchange (the doc_id roll-up); the loader's round-robin
    # repartition is the only other exchange
    assert plan.count("hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_phash_near_dup_banded_join_no_cartesian(spark):
    """The phash hamming-LSH must pair candidates through the banded
    equi-join — an all-pairs/cartesian stage at 100 TB of images is the
    failure mode the banding exists to prevent."""
    df = _q("mm_phash_near_dup").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_val" in plan, plan


def test_dsir_gumbel_topk_is_take_ordered(spark):
    """The resampling top-k must plan as TakeOrderedAndProject — a
    global range-sort of per-doc scores is the 100 TB failure mode."""
    df = _q("sample_dsir_gumbel_topk").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "TakeOrdered" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_audio_decode_scans_doc_id_only(spark):
    """Guards: reading the documents text/payload columns for an op
    that derives clips from doc_id alone — scan width is the I/O term
    at 100 TB, and a mapInPandas stage silently pulling every column
    through Arrow is the classic way to lose it."""
    df = _q("mm_audio_decode").fn(spark, SF_DIR)
    (cols,) = I.scan_read_columns(df)
    assert cols == {"doc_id"}, cols
    df2 = _q("mm_audio_frame_energy").fn(spark, SF_DIR)
    (cols2,) = I.scan_read_columns(df2)
    assert cols2 == {"doc_id"}, cols2


def test_audio_ops_no_shuffle(spark):
    """Guards: any exchange in a per-clip map pipeline — decode/frame/
    re-encode are embarrassingly parallel; a shuffle would serialize
    payload bytes across the cluster for nothing."""
    for name in ("mm_audio_decode", "mm_audio_resample"):
        df = _q(name).fn(spark, SF_DIR)
        assert I.exchange_count(df) == 0, (name, I.simple_plan(df))


def test_knn_label_agreement_no_cartesian(spark):
    """Guards: the anchors×corpus cross product materializing as a
    plan-level join — the matrix kernel must absorb it (one
    mapInPandas over the corpus scan), leaving only the
    O(anchors·k·partitions) candidate shuffle for the global top-k."""
    df = _q("sim_knn_label_agreement").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert I.has_node(df, "MapInPandas") or "MapInPandas" in plan, plan


def test_orc_roundtrip_pushdown_and_pruning(spark):
    """Guards: the ORC scan regressing to a full-width, full-table
    read — ORC is the second columnar lake format; its DataSource V2
    path must push the n_chars filter into the reader and prune to
    the three referenced columns, same as parquet."""
    df = _q("scan_orc_roundtrip").fn(spark, SF_DIR)
    pushed = " ".join(I.pushed_filters(df))
    assert "n_chars" in pushed, f"n_chars filter not pushed: {pushed}"
    (cols,) = I.scan_read_columns(df)
    assert cols == {"source", "lang", "n_chars"}, cols
    assert I.partial_agg_before_shuffle(df), "no map-side combine"


def test_strip_dup_spans_shuffles_hashes_not_text(spark):
    """Guards: the removal transform shuffling span TEXT — the
    frequency pass must exchange on the 32-byte md5 column and the
    rebuild side must come back as (doc_id, index) pairs joined to
    the base scan, never a re-exploded text column; no all-pairs."""
    df = _q("text_strip_dup_spans").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(h" in plan, plan
    assert "hashpartitioning(doc_id" in plan, plan


def test_recursive_closure_broadcasts_edges(spark):
    """Guards: the closure's per-level step degrading to a shuffle or
    cartesian join — the edge table is the small dimension and must
    stay broadcast; the result aggregation shuffles only on its own
    group key."""
    df = _q("cte_recursive_closure").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert I.partial_agg_before_shuffle(df), "no map-side combine"


def test_pii_scrub_zero_exchange(spark):
    """Guards: the PII scrub growing ANY shuffle — it is pure row-local
    regexp work. Since r12 the wide scan comes from the multi-file
    fixture copy (session._parallel_copy), so the plan is EXCHANGE-FREE
    — the layout a 100 TB table actually presents; the round-robin
    widening crutch remains only as the fallback when the copy can't
    build. No hash/range partitioning may appear, and the scan must
    prune to doc_id+text."""
    df = _q("text_pii_scrub").fn(spark, SF_DIR)
    plan = I.simple_plan(df)
    assert I.exchange_count(df) == 0, plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    (cols,) = I.scan_read_columns(df)
    assert cols == {"doc_id", "text"}, cols


def test_audit_plans_kernel_regexes(tmp_path):
    """r17 ADVICE items 1+2: the plan-audit kernel-duplication regexes
    must (1) anchor the simple-mode capture to the eval node's own line
    — not skip to the next operator and capture its first function —
    and (2) count every UDF in a formatted detail node's Arguments
    list, not just the leading one. No Spark needed: runs the audit on
    literal plan snippets."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "audit_plans",
        Path(__file__).resolve().parent.parent / "scripts" / "audit_plans.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # simple mode: pyfn on the eval line; substring belongs to Project
    simple = (
        "ArrowEvalPython [pyfn(a#1)], [out#2], 200\n"
        "+- Project [substring(x#3, 1, 4) AS y#4]\n"
        "   +- ArrowEvalPython [pyfn(b#5)], [out2#6], 200\n"
        "      +- Project [substring(z#7, 1, 4) AS w#8]\n"
    )
    p = tmp_path / "simple.txt"
    p.write_text(simple)
    flags = mod.audit(p)
    assert any("'pyfn' evaluated in 2 nodes" in f for f in flags), flags
    assert not any("substring" in f for f in flags), flags

    # simple mode, bracketed argument: the list ends at its balanced
    # ']', so 'kern' after the array literal is still captured (and
    # 'lower', nested inside an argument, is not a kernel)
    bracketed = (
        "ArrowEvalPython [pyfn(a#1, [1, 2], lower(s#9)), kern(b#2)], [o#3], 200\n"
        "+- ArrowEvalPython [kern(c#4), lower(d#5)], [o2#6], 200\n"
    )
    p = tmp_path / "bracketed.txt"
    p.write_text(bracketed)
    flags = mod.audit(p)
    assert any("'kern' evaluated in 2 nodes" in f for f in flags), flags
    assert not any("'lower'" in f or "'pyfn'" in f for f in flags), flags

    # formatted mode: two UDFs in ONE Arguments list + one repeated
    formatted = (
        "(3) ArrowEvalPython\n"
        "Input [2]: [a#1, b#2]\n"
        "Arguments: [fn_one(a#1)#10, fn_two(b#2)#11], [r#12], 200\n"
        "\n"
        "(7) ArrowEvalPython\n"
        "Input [1]: [c#3]\n"
        "Arguments: [fn_two(c#3)#13], [s#14], 200\n"
    )
    p2 = tmp_path / "formatted.txt"
    p2.write_text(formatted)
    flags2 = mod.audit(p2)
    assert any("'fn_two' evaluated in 2 nodes" in f for f in flags2), flags2
    assert not any("fn_one" in f for f in flags2), flags2
