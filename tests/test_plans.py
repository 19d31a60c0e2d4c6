"""Physical-plan regression tests: pin the properties that matter at 100 TB.

These are the scale contract of SURVEY.md sections 3.4 / 7 P6, enforced:
one raw-data shuffle in the fit, pruned scans, pushed filters, no
row-at-a-time Python anywhere, shuffle-free codegen'd transform.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from woe_monotonic_binning_spark import apply_bins, fit_bins
from woe_monotonic_binning_spark.fit import melt_features, summarize
from woe_monotonic_binning_spark.plans import (
    exchange_count,
    formatted_plan,
    pushed_filters,
    python_eval_count,
    scan_read_columns,
)

SF = "/root/testdata/sf0.001"
FEATURES = ["l_extendedprice", "l_quantity"]


@pytest.fixture(scope="module", autouse=True)
def _uncached(spark):
    # other test modules cache these tables; a cached fragment swaps the
    # parquet scan for InMemoryTableScan and invalidates every plan assertion
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
        "target", (F.col("l_returnflag") == "R").cast("double")
    )


def test_melt_prunes_scan_to_used_columns(li):
    long = melt_features(li, "target", FEATURES)
    (cols,) = scan_read_columns(long)
    assert set(cols) == {"l_returnflag", *FEATURES}


def test_melt_is_shuffle_free(li):
    assert exchange_count(melt_features(li, "target", FEATURES)) == 0


def test_summary_is_single_shuffle(li):
    summary = summarize(melt_features(li, "target", FEATURES))
    assert exchange_count(summary) == 1


def test_summary_has_partial_aggregation(li):
    import re

    plan = formatted_plan(summarize(melt_features(li, "target", FEATURES)))
    # partial agg before the exchange + final after => two HashAggregate ops
    assert len(re.findall(r"\(\d+\)\s+HashAggregate", plan)) == 2
    assert "partial_count" in plan  # map-side combine confirmed


def test_fit_python_boundary_is_arrow_only(li):
    bins = fit_bins(li, "target", FEATURES, n_threshold=100)
    assert python_eval_count(bins, "row") == 0
    assert python_eval_count(bins, "arrow") == 1  # the grouped-map fit UDF


def test_fit_shuffles_raw_data_once(li):
    bins = fit_bins(li, "target", FEATURES, n_threshold=100)
    # shuffle 1: raw rows -> (variable, value) hash agg;
    # shuffle 2: tiny summary -> groupBy(variable) for the fit UDF
    assert exchange_count(bins) <= 2


def test_transform_is_shuffle_and_python_free(li):
    bins = fit_bins(li, "target", FEATURES, n_threshold=100)
    out = apply_bins(li, bins, iv_threshold=0.0, keep_columns=["l_orderkey"])
    # Round 17: the median pre-pass rides the plan as ONE scalar subquery
    # instead of an eager .first() job at call time.  The MAIN plan (the
    # per-row encoding pass) must stay shuffle-free; the subquery section
    # holds the single-row median aggregation (its SinglePartition
    # exchange is the aggregation's own, not a data shuffle).
    plan = formatted_plan(out)
    main = plan.split("===== Subqueries =====")[0]
    assert "Subquery" in plan  # the lazy median pre-pass is attached
    import re

    assert not re.findall(r"\(\d+\)\s+(?:Exchange|ShuffleExchange)\b", main)
    assert python_eval_count(out) == 0


def test_transform_count_prunes_median_subquery(li):
    """An action that never references an encoded column (count, sampling)
    must not pay the median pre-pass: the scalar subquery — and with it
    the percentile aggregation — is pruned from the plan entirely."""
    bins = fit_bins(li, "target", FEATURES, n_threshold=100)
    out = apply_bins(li, bins, iv_threshold=0.0, keep_columns=["l_orderkey"])
    plan = formatted_plan(out.groupBy().count())
    assert "Subquery" not in plan
    assert "percentile" not in plan


def test_transform_lazy_medians_match_eager_literals(li):
    """The lazy scalar-subquery fill values must encode bit-identically to
    the old eager path (medians= literals computed by median_prepass)."""
    from woe_monotonic_binning_spark.transform import median_prepass

    bins = fit_bins(li, "target", FEATURES, n_threshold=100)
    lazy = apply_bins(li, bins, iv_threshold=0.0, keep_columns=["l_orderkey"])
    row = median_prepass(li, FEATURES, "exact").first()
    eager = apply_bins(
        li, bins, iv_threshold=0.0, keep_columns=["l_orderkey"],
        medians={v: row[v] for v in FEATURES},
    )
    assert lazy.exceptAll(eager).count() == 0
    assert eager.exceptAll(lazy).count() == 0


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") == 5.0)
        .select("l_orderkey")
    )
    pushed = pushed_filters(df)
    assert any("l_quantity" in p and "EqualTo" in p for p in pushed), pushed
    (cols,) = scan_read_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_filter_suite_prunes_and_pushes_down(spark):
    """The merged certification slot (SURVEY §2 ops 4/5/6, plus op 10's
    NULL-keyed aggregate row since round 8) must keep the plan those
    separate queries had: each union branch's parquet scan reads ONLY its
    referenced columns (survivor branch: quantity/discount + the target
    source; NaN-group branch: tax + the target source), the derived-column
    filters stay above the scan but fused into one codegen'd pass, and
    the positional anti-drop costs exactly the one window exchange."""
    import queries_catalog as qc

    df = qc.SPARK_QUERIES["q_filter_suite"](spark, SF)
    scans = [set(c) for c in scan_read_columns(df)]
    assert len(scans) == 2, scans
    assert {"l_quantity", "l_discount", "l_returnflag"} in scans, scans
    assert {"l_returnflag", "l_tax"} in scans, scans
    assert python_eval_count(df) == 0
    # branch A: groupBy(l_quantity) + the global row_number window;
    # branch B: one partial+final global aggregate (+AQE reads)
    assert exchange_count(df) <= 4


def test_exact_dedup_is_single_shuffle(spark):
    from woe_monotonic_binning_spark.operators.dedup import exact_dedup_by_digest

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = exact_dedup_by_digest(docs, "text", "doc_id")
    assert exchange_count(out) == 1
    assert python_eval_count(out) == 0


def test_dedup_keep_canonical_no_forced_broadcast(spark):
    """The component table is unbounded (one row per doc in any near-dup
    pair — billions at 100 TB), so the assignment join must NOT carry a
    user-forced F.broadcast hint: AQE may still pick a broadcast join when
    the table is genuinely small, but a forced hint would override Spark's
    size checks and OOM at scale.  Self-check: a deliberately hinted join
    registers exactly one hint, proving the counter sees what it claims to."""
    from woe_monotonic_binning_spark.operators.dedup import dedup_keep_canonical
    from woe_monotonic_binning_spark.plans import forced_broadcast_hint_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    kept = dedup_keep_canonical(docs, pairs, "doc_id")
    assert forced_broadcast_hint_count(kept) == 0
    hinted = docs.join(
        F.broadcast(spark.range(5).withColumnRenamed("id", "doc_id")), "doc_id"
    )
    assert forced_broadcast_hint_count(hinted) == 1


def test_connected_components_driver_route_is_local_table(spark):
    """On the driver route CC's labels come back as an Arrow-built local
    table: a LocalTableScan and no ExistingRDD scan.  A row-list hand-back
    scans a Python RDD instead, which starts the Python worker daemon and
    its workers (+344 MB RSS on a 4-core host)."""
    from woe_monotonic_binning_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(0, 1), (1, 2), (10, 11)], "id_a long, id_b long")
    plan = formatted_plan(connected_components(pairs))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_minhash_driver_route_verifies_local_candidates(spark, monkeypatch):
    """On the driver route minhash_dedup_pairs verifies an Arrow-built
    candidate table (a LocalTableScan) and bands nothing in Spark (no
    Generate); with the threshold at -1 the distributed route explodes the
    bands and builds no local table."""
    from woe_monotonic_binning_spark.operators import dedup

    plans = []
    release = dedup.materialize_and_release

    def capture(result, *intermediates):
        plans.append(formatted_plan(result))
        return release(result, *intermediates)

    monkeypatch.setattr(dedup, "materialize_and_release", capture)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5)
    finally:
        spark.conf.set(key, prev)
    driver, distributed = plans
    assert "LocalTableScan" in driver and "Generate" not in driver
    assert "Generate" in distributed and "LocalTableScan" not in distributed


def test_engine_local_tables_are_arrow_built(spark, li):
    """The engine's own small tables are built from Arrow and plan as a
    LocalTableScan: WOEBinnerModel's bins copy and psi_report's bin
    scaffold and fitted-WOE table.  A row list would plan as an ExistingRDD
    scan of a Python RDD, one Python task per core on every read."""
    from woe_monotonic_binning_spark.drift import psi_report
    from woe_monotonic_binning_spark.ml import WOEBinner

    model = WOEBinner(
        targetCol="target", inputCols=FEATURES, nThreshold=100.0, ivThreshold=0.0
    ).fit(li)
    bins_plan = formatted_plan(model.binsTable)
    assert "LocalTableScan" in bins_plan and "ExistingRDD" not in bins_plan
    detail = formatted_plan(psi_report(li, li, model.binsTable, iv_threshold=0.0))
    assert "LocalTableScan" in detail and "ExistingRDD" not in detail


def test_minhash_pipeline_stays_jvm_side(spark):
    from woe_monotonic_binning_spark.operators.dedup import (
        minhash_signatures,
        shingled,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(shingled(docs, "text", "doc_id"), "doc_id")
    assert python_eval_count(sigs) == 0


def test_quantize_guard_single_lineage(li):
    from woe_monotonic_binning_spark.fit import quantize_summary
    from woe_monotonic_binning_spark.plans import broadcast_join_count, formatted_plan

    summary = summarize(melt_features(li, "target", FEATURES))
    capped = quantize_summary(summary, 64)
    plan = formatted_plan(capped)
    # Contract: the one raw-data pass runs ONCE, eagerly, when the
    # range-partitioned summary is localCheckpoint-ed inside
    # quantize_summary.  Downstream (this plan) both the offsets branch and
    # the main branch read the materialized checkpoint — so NO parquet scan
    # may appear here (a parquet scan would mean a forked lineage repeating
    # the expensive first aggregation), the offsets side is consumed via one
    # broadcast join, and everything stays JVM-side.
    assert plan.count("Scan parquet") == 0, plan
    assert broadcast_join_count(capped) == 1
    # Round 18: the per-partition running sums ride ONE MapInArrow pass
    # (guide §2.4/§4.2) — the posture pin is "Arrow-only crossings", not
    # "zero Python": no row-at-a-time eval, exactly one columnar crossing.
    assert python_eval_count(capped, "row") == 0
    assert python_eval_count(capped, "arrow") == 1
    assert "MapInArrow" in plan
    # offsets agg + its window + re-agg over summary rows only — the former
    # (variable, __pid) window exchange is gone (round 18)
    assert exchange_count(capped) <= 3


def test_star_join_broadcasts_dimensions(spark):
    from woe_monotonic_binning_spark.operators.joins import star_join
    from woe_monotonic_binning_spark.plans import (
        broadcast_join_count,
        sort_merge_join_count,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    out = star_join(orders, {"o_custkey": (cust, "c_custkey")})
    assert broadcast_join_count(out) == 1
    assert sort_merge_join_count(out) == 0


def test_semi_pruned_join_filters_fact_before_shuffle(spark):
    """The broadcast LeftSemi must sit on the fact side BELOW the main join,
    and the result must equal the plain join exactly."""
    from woe_monotonic_binning_spark.operators.joins import semi_pruned_join
    from woe_monotonic_binning_spark.plans import formatted_plan

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    hot = spark.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_totalprice") > 400000
    )
    out = semi_pruned_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), hot, "o_orderkey"
    )
    plan = formatted_plan(out)
    assert "LeftSemi" in plan, plan
    assert python_eval_count(out) == 0
    plain = li.withColumnRenamed("l_orderkey", "o_orderkey").join(hot, "o_orderkey")
    assert out.count() == plain.count()
    assert out.exceptAll(plain.select(*out.columns)).count() == 0


def test_range_join_does_not_shuffle_facts(spark):
    from woe_monotonic_binning_spark.operators.joins import range_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    bands = spark.createDataFrame(
        [("low", 0.0, 30000.0), ("high", 30000.0, 1e18)],
        "band string, lo double, hi double",
    )
    assert exchange_count(range_join(li, bands, "l_extendedprice")) == 0


def test_asof_join_is_single_shuffle_no_python(spark):
    from woe_monotonic_binning_spark.operators.joins import asof_join
    from woe_monotonic_binning_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ots"),
        "o_totalprice",
    )
    out = asof_join(ev, orders, on="user_id", left_ts="ts", right_ts="ots")
    # union-side scans feed ONE window sort shuffle; no join explosion
    assert exchange_count(out) == 1
    assert python_eval_count(out) == 0


def test_tfidf_plan_is_jvm_only_with_pruned_scan(spark):
    from woe_monotonic_binning_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet")
    out = tfidf_top_terms(docs)
    assert python_eval_count(out) == 0
    # scans read only (doc_id, text) — never lang/source/n_chars
    for cols in scan_read_columns(out):
        assert set(cols) <= {"doc_id", "text"}


def test_hash_sampling_is_map_side_only(spark):
    from woe_monotonic_binning_spark.operators.sampling import mix_sources, sample_by_hash

    docs = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet")
    s = sample_by_hash(docs, "doc_id", 0.25).select("doc_id", "source")
    m = mix_sources(docs, {"src0": 1.0, "src1": 0.5}).select("doc_id", "source")
    for out in (s, m):
        assert exchange_count(out) == 0
        assert python_eval_count(out) == 0
        (cols,) = scan_read_columns(out)
        assert set(cols) == {"doc_id", "source"}


def test_gopher_signals_single_pass_no_explode(spark):
    from woe_monotonic_binning_spark.operators.text import gopher_signals

    docs = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet")
    out = gopher_signals(docs)
    assert exchange_count(out) == 0
    assert python_eval_count(out) == 0
    assert "Generate" not in formatted_plan(out)  # no explode in the line path


def test_curation_pipeline_plan_no_python(spark):
    """The flagship composed pipeline (q_curation_pipeline) must stay
    entirely JVM-side: quality scoring, digest dedup, Jaccard pairs,
    component join, keep-best window, mix/split filters — zero Python
    eval nodes in the final plan (components themselves materialize
    eagerly through checkpointed JVM jobs during construction)."""
    import queries_catalog as qc

    out = qc.SPARK_QUERIES["q_curation_pipeline"](spark, SF)
    assert python_eval_count(out) == 0
    # no forced broadcast of the (potentially corpus-sized) component
    # table — AQE owns the join-strategy decision
    assert "broadcast(" not in formatted_plan(out)


def test_round6_text_ops_are_single_map_side_passes(spark):
    """scrub_pii, remove_repeated_lines and gopher_filter must compile to
    pure map-side projections: zero exchanges, zero Python eval nodes, no
    generators — at 100 TB each is one codegen'd scan feeding the writer."""
    from woe_monotonic_binning_spark.operators.text import (
        gopher_filter,
        remove_repeated_lines,
        scrub_pii,
    )

    docs = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet")
    for name, out in [
        ("scrub_pii", scrub_pii(docs)),
        ("remove_repeated_lines", remove_repeated_lines(docs)),
        ("gopher_filter", gopher_filter(docs)),
    ]:
        assert exchange_count(out) == 0, name
        assert python_eval_count(out) == 0, name
        assert "Generate" not in formatted_plan(out), name


def test_curate_corpus_full_hygiene_stages_stay_jvm_side(spark):
    """curate_corpus with every map-side hygiene stage on (scrub + line
    dedup + gopher gate; chunk dedup excluded — it owns the one inherent
    text shuffle) must still compile to a zero-Python plan with no forced
    broadcast — the stages fuse into the scan, not bolt on as UDFs."""
    from woe_monotonic_binning_spark import curate_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = curate_corpus(
        docs,
        scrub=True,
        dedup_lines=True,
        gopher=True,
        near_dup=None,
        quality_threshold=0.0,
    )
    assert python_eval_count(out) == 0
    assert "broadcast(" not in formatted_plan(out)


def test_materialize_packs_no_python(spark):
    """Pack materialization is pure JVM: the id equi-join plus the one
    reconstruction groupBy — no Python eval nodes re-enter after the
    packer's single Arrow stage."""
    from woe_monotonic_binning_spark.operators.packing import (
        materialize_packs,
        pack_sequences,
    )
    from woe_monotonic_binning_spark.operators.text import text_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = text_stats(docs).select("doc_id", "text", "stat_tokens")
    packed = pack_sequences(toks, budget=512, n_shards=8)
    out = materialize_packs(toks, packed)
    # the packer's BFD is the plan's single Python boundary; nothing in
    # the materialization itself adds another
    assert python_eval_count(out) == 1


def test_pack_sequences_one_shuffle_one_arrow_stage(spark):
    """Packing shuffles exactly once (hash-shard grouping) and crosses the
    Python boundary exactly once (the per-shard BFD applyInPandas); the
    corpus text never enters the plan — only (id, tokens, shard)."""
    from woe_monotonic_binning_spark.operators.packing import pack_sequences
    from woe_monotonic_binning_spark.operators.text import text_stats

    docs = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet")
    toks = text_stats(docs).select("doc_id", "stat_tokens")
    out = pack_sequences(toks, budget=512, n_shards=8)
    assert exchange_count(out) == 1
    assert python_eval_count(out) == 1
    # the scan must read text (tokens derive from it) but the text column
    # must be projected away BEFORE the exchange: only (id, tokens, shard)
    # cross the wire
    plan = formatted_plan(out)
    import re

    ex_outputs = re.findall(
        r"\(\d+\) (?:Exchange|Sort|FlatMapGroupsInPandas)[^\n]*\n(?:Output|Input)[^\n]*",
        plan,
    )
    assert ex_outputs, "expected node Output details in formatted plan"
    assert all("text#" not in o for o in ex_outputs), ex_outputs


def test_remove_repeated_chunks_broadcasts_frequent_set(spark):
    """The frequent-chunk cut must reach the exploded side as a broadcast
    anti-join; a shuffled join there re-partitions the full chunk table."""
    from woe_monotonic_binning_spark.operators.text import remove_repeated_chunks

    docs = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet")
    out = remove_repeated_chunks(docs, chunk_words=5, min_df=2)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert python_eval_count(out) == 0


def test_token_budget_pays_window_only_for_the_cut_bucket(spark):
    """select_to_token_budget's scale contract: when every named budget
    swallows its group, the plan is a pure map-side filter (no Window, no
    Exchange); when a budget line falls inside a group, exactly ONE Window
    appears — over the bucket-filtered partial slice, never the corpus —
    costing one Exchange.  Python never enters either plan."""
    import re

    from woe_monotonic_binning_spark.operators.sampling import select_to_token_budget
    from woe_monotonic_binning_spark.operators.text import token_count_bpe

    docs = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet").withColumn(
        "toks", token_count_bpe(F.col("text"))
    )
    easy = select_to_token_budget(docs, {"src0": 1e12}, token_col="toks")
    plan = formatted_plan(easy)
    assert len(re.findall(r"\(\d+\)\s+Window\b", plan)) == 0
    assert exchange_count(easy) == 0
    assert python_eval_count(easy) == 0

    tight = select_to_token_budget(docs, {"src0": 500.0}, token_col="toks")
    plan = formatted_plan(tight)
    assert len(re.findall(r"\(\d+\)\s+Window\b", plan)) == 1
    assert exchange_count(tight) == 1
    assert python_eval_count(tight) == 0


def test_curate_corpus_simhash_path_stays_jvm_side(spark):
    """The simhash near-dup backend (round-7 verdict #3) composes with
    the hygiene stages without re-introducing Python eval nodes: the
    fingerprint is a HOF expression chain, the probe join and keep-best
    are plain joins/windows."""
    from woe_monotonic_binning_spark import curate_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = curate_corpus(
        docs,
        scrub=True,
        dedup_lines=True,
        gopher=True,
        near_dup="simhash",
        quality_threshold=0.0,
    )
    assert python_eval_count(out) == 0


def test_srp_candidate_dedup_shuffles_id_pairs_only(spark):
    """Round-9 scale fix pin, generalised to every generator on the shared
    capped-bucket core (dedup._bucket_pairs): the band cache and the
    candidate-dedup exchange carry id tuples only — never the embedding
    vectors (SRP) or the SimHash band arrays.  The pre-fix SRP plan
    shuffled two 64-dim vectors per candidate (~1 KB/row) and cached
    n_bands copies of every vector; the SimHash plan used to cache and
    shuffle both 4-band arrays per candidate.  Payload columns may appear
    only in the scans and the final verify re-join."""
    import re

    from woe_monotonic_binning_spark.operators.dedup import (
        _banded_near_pairs,
        simhash_fingerprints,
    )
    from woe_monotonic_binning_spark.operators.similarity import (
        _srp_threshold_pairs_lazy,
        srp_bits_for_threshold,
        srp_hyperplanes,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # srp_threshold_pairs' default band geometry at threshold 0.5
    planes = srp_hyperplanes(
        len(emb.first()["embedding"]), srp_bits_for_threshold(0.5) * 16, 42
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lazy_plans = {
        "srp": _srp_threshold_pairs_lazy(
            emb, "embedding", "vec_id", 0.5, planes, 16, 1_000
        )[0],
        "simhash": _banded_near_pairs(
            simhash_fingerprints(docs, "text", "doc_id"),
            "sim_bands",
            "doc_id",
            3,
            1_000,
        )[0],
    }
    payload = {"v_a", "embedding", "__bands", "sim_bands", "ba", "bb"}
    for name, out in lazy_plans.items():
        plan = formatted_plan(out)
        # the persisted band relation holds (id, band, bucket key) only —
        # read the cached column list from the detail block, not the tree
        mem_args = re.findall(
            r"\(\d+\) InMemoryRelation\nArguments: \[([^\]]*)\]", plan
        )
        assert mem_args, f"{name}: expected the band cache in the plan"
        for a in mem_args:
            cols = {c.split("#")[0].strip() for c in a.split(",")}
            assert not cols & payload, (
                f"{name}: band cache carries payload again: [{a}]"
            )
        # the candidate-dedup exchange partitions on (id_a, id_b) and its
        # input is exactly those two columns
        dedup_exchanges = re.findall(
            r"\(\d+\) Exchange\nInput \[(\d+)\]: \[([^\]]*)\]\n"
            r"Arguments: hashpartitioning\(id_a[^)]*id_b",
            plan,
        )
        assert dedup_exchanges, f"{name}: expected the (id_a, id_b) dedup exchange"
        for n_cols, cols in dedup_exchanges:
            assert int(n_cols) == 2, f"{name}: dedup exchange widened to [{cols}]"


def test_asof_nearest_single_exchange(spark):
    """direction='nearest' runs both carry passes over ONE hash exchange
    (the two Window operators share the key partitioning; only the Sort
    differs) — the docstring's at-scale claim, pinned."""
    import re

    from woe_monotonic_binning_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k long, lts string"
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1.0)], "k long, rts string, v double"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts", direction="nearest"
    )
    plan = formatted_plan(out)
    n_window = len(re.findall(r"\(\d+\) Window\n", plan))
    n_exchange = len(re.findall(r"\(\d+\) Exchange\n", plan))
    assert n_window == 2, f"expected 2 Window ops, saw {n_window}:\n{plan}"
    assert n_exchange == 1, (
        f"nearest as-of must reuse one key exchange, saw {n_exchange}:\n{plan}"
    )


def test_ngram_jaccard_self_join_is_merge_not_broadcast(spark):
    """The round-11 sf1-caught plan defect, pinned: both sides of the
    blocked exact-Jaccard self-join are the CORPUS (each row carries the
    document's full word array), so Spark's row-count-based size estimate
    under-sizes them and would happily broadcast one side — the plan that
    timed out the broadcast future at sf1 and cannot exist at 100 TB.
    The merge hint must keep the static plan a SortMergeJoin on the block
    key (join hints also survive AQE re-planning), with the round-12
    bounded lang+blk blocking shape."""
    from woe_monotonic_binning_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "blk", F.col("doc_id") % 50
    )
    out = ngram_jaccard_pairs(docs, "text", "doc_id", ["lang", "blk"], 0.5)
    plan = formatted_plan(out)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_documents_single_generate_no_shuffle_no_python(spark):
    """chunk_documents (round 12) is pure map-side + the one inherent
    posexplode: row expansion IS the output, so exactly one Generate,
    zero exchanges, zero Python eval nodes — at 100 TB it fuses into the
    surrounding scan/writer."""
    import re

    from woe_monotonic_binning_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for unit in ("words", "chars", "tokens", "sentences"):
        out = chunk_documents(docs, chunk_size=64, overlap=16, unit=unit)
        plan = formatted_plan(out)
        # node headers only — explain('formatted') repeats each node name
        # in its detail block
        assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, unit
        assert exchange_count(out) == 0, unit
        assert python_eval_count(out) == 0, unit


def test_extract_html_text_plan_is_map_side_jvm(spark):
    """extract_html_text is one fused map-side pass: zero exchanges, zero
    Python, zero generates (the per-line work runs inside higher-order
    functions over the split array, never exploded to rows) — at 100 TB
    it fuses into the corpus scan exactly like scrub_pii."""
    import re

    from woe_monotonic_binning_spark.operators.text import extract_html_text

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumnRenamed(
        "text", "html"
    )
    out = extract_html_text(docs)
    plan = formatted_plan(out)
    assert exchange_count(out) == 0
    assert python_eval_count(out) == 0
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 0


def test_parse_url_plan_is_map_side_jvm(spark):
    """parse_url is one fused map-side pass (round 15): zero exchanges,
    zero Python — the URL gate fuses into the corpus scan, which is why
    it runs FIRST in curate_corpus."""
    from woe_monotonic_binning_spark.operators.urls import parse_url

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url", F.concat(F.lit("https://h"), F.col("doc_id"), F.lit(".com/p"))
    )
    out = parse_url(docs)
    assert exchange_count(out) == 0
    assert python_eval_count(out) == 0


def test_filter_domains_dataframe_blocklist_broadcasts(spark):
    """A DataFrame blocklist ships as a broadcast LEFT ANTI join — the
    corpus never shuffles for the gate."""
    from woe_monotonic_binning_spark.operators.urls import (
        filter_domains,
        parse_url,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url", F.concat(F.lit("https://h"), F.col("doc_id"), F.lit(".com/p"))
    )
    bl = spark.createDataFrame([("h1.com",), ("h2.com",)], "d string")
    out = filter_domains(parse_url(docs), bl)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # every shuffle in the plan is the (tiny) blocklist's distinct — the
    # corpus side never hash-partitions
    import re

    raw = out._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", raw):
        assert "__bl" in m.group(1), raw


def test_perceptual_hash_plans_are_map_side(spark):
    """Every multimodal payload kernel (the perceptual hashes since round
    16, all nine since the shared Arrow row runner) is embarrassingly
    parallel: zero exchanges and exactly one Arrow Python pass, whose
    input is pruned to ``media_id`` + ``content`` (+ the charset hint
    for decode_text) — ``kind`` and the ``meta`` struct never cross."""
    import re

    import woe_monotonic_binning_spark.operators.multimodal as mm
    import tests.media_fixtures as mf

    docs = spark.range(16).withColumnRenamed("id", "doc_id")
    ppm = mf.synthetic_ppm_media(docs)
    wav = mf.synthetic_wav_media(docs)
    avi = mf.synthetic_avi_mjpeg_media(docs)
    text = mf.synthetic_text_media(docs)
    base = ["content", "media_id"]
    for out, expect in (
        (mm.decode_image(ppm), base),
        (mm.decode_audio(wav), base),
        (mm.resize_image(ppm, 2, 2), base),
        (mm.probe_media(wav), base),
        (mm.decode_frames(avi), base),
        (mm.sample_frames(avi, decode=True), base),
        (mm.decode_text(text, hint_col="charset_hint"),
         ["charset_hint"] + base),
        (mm.dhash_images(mf.synthetic_gradient_ppm_media(docs)), base),
        (mm.ahash_audio(mf.synthetic_tone_wav_media(docs)), base),
    ):
        plan = formatted_plan(out)
        assert "Exchange" not in plan, plan[:1500]
        assert python_eval_count(out, "arrow") == 1, plan[:1500]
        m = re.search(r"\) MapInArrow\s*\nInput \[\d+\]: \[([^\]]*)\]", plan)
        assert m, plan[:1500]
        got = sorted(re.sub(r"#\d+L?$", "", c.strip()) for c in m.group(1).split(","))
        assert got == expect, plan[:1500]


def test_tar_read_plan_is_one_pass(spark, tmp_path):
    """read_tar_shards is a binaryFile scan + one Arrow stage: zero
    exchanges — shard count IS the parallelism (round 16)."""
    from tests.media_fixtures import synthetic_ppm_media
    from woe_monotonic_binning_spark.sources.webdataset import (
        read_tar_shards,
        write_tar_shards,
    )
    from pyspark.sql import functions as F

    media = synthetic_ppm_media(
        spark.range(6).withColumnRenamed("id", "doc_id")
    ).select(
        F.lit("s0").alias("shard"),
        F.col("media_id").cast("string").alias("sample_key"),
        F.lit("ppm").alias("ext"),
        "content",
    )
    out = str(tmp_path / "shards")
    write_tar_shards(media, out)
    plan = (
        read_tar_shards(spark, out)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:1500]


def test_byte_kernels_have_no_python_crossing(spark):
    """byte_stats and extract_features are native column expressions:
    neither plan holds a Python evaluation node."""
    from woe_monotonic_binning_spark.operators.multimodal import (
        byte_stats,
        extract_features,
        media_from_documents,
    )

    media = media_from_documents(spark.read.parquet(f"{SF}/documents.parquet"))
    assert python_eval_count(byte_stats(media)) == 0
    assert python_eval_count(extract_features(media, dim=16)) == 0


def test_warm_curation_compiles_nothing(spark):
    """A warm curate_corpus call reuses its generated code: get_spark sizes
    Spark's codegen cache above the ~125 classes one call needs (the
    100-entry default recompiled ~110 of them on every call).  A handful
    is allowed: AQE's run-time re-plans (codegen stage ids, unique-key
    broadcast joins) can still give a few new variants on early calls."""
    from woe_monotonic_binning_spark import curate_corpus

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def curate():
        try:
            out = curate_corpus(docs, near_dup="minhash", near_dup_threshold=0.7)
            return sorted(map(tuple, out.select("doc_id", "split").collect()))
        finally:
            # curate_corpus leaves its survivor caches to the caller; a
            # cached fragment would change the second call's plans
            spark.catalog.clearCache()

    first = curate()
    before = compiles.getCount()
    assert curate() == first
    assert compiles.getCount() - before <= 20
