"""Plan-shape tests — the Spark analogue of the reference's compile-time
plan assertions (phoenix-core/src/test/.../compile/QueryCompilerTest.java,
WhereOptimizerTest.java, JoinQueryCompilerTest.java).

Phoenix asserts on the compiled Scan/ExplainPlan; here we assert on Spark's
physical plan string: these pins are what make the engine hold up at 100 TB
(broadcasts where expected, pushed filters, no cartesian products, top-K via
TakeOrderedAndProject, partial aggregation before the shuffle).
"""

from __future__ import annotations

import pytest

from phoenix_spark.queries import all_queries
from tests.conftest import SF_TEST_DIR

QUERIES = all_queries()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_TEST_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q5_star_join_all_broadcast(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    # all five joins resolve to broadcast — the fact scan never shuffles
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_scan_filter_pushdown_reaches_parquet(spark):
    df = QUERIES["filter_range_pred"](spark, SF_TEST_DIR)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [" in formatted
    # the shipdate range predicate must appear pushed, not only residual
    assert "l_shipdate" in formatted.split("PushedFilters", 1)[1].split("\n", 1)[0]


def test_projection_prunes_columns(spark):
    df = QUERIES["scan_projection"](spark, SF_TEST_DIR)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    read_schema = formatted.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "l_extendedprice" not in read_schema  # unprojected column not read
    assert "l_quantity" in read_schema


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "sort_topk")
    assert "TakeOrderedAndProject" in plan  # per-partition topN + merge,
    # the MergeSortTopNResultIterator shape — never a full sort


def test_groupby_has_partial_aggregation(spark):
    plan = plan_of(spark, "agg_groupby_hash")
    # two HashAggregate nodes (partial + final) around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_minhash_lsh_no_cartesian(spark):
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_no_cartesian_and_codegen(spark):
    plan = plan_of(spark, "dedup_simhash")
    # candidate pairs come from an equi-join on (band, chunk value)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r9: the fingerprint is the zero-shuffle Arrow kernel (one MapInArrow,
    # no explode+groupBy shuffle, no row-at-a-time Python)
    assert "MapInArrow" in plan and "BatchEvalPython" not in plan


def test_similarity_lsh_no_cartesian(spark):
    plan = plan_of(spark, "similarity_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_anti_join_types(spark):
    assert "LeftSemi" in plan_of(spark, "join_semi")
    assert "LeftAnti" in plan_of(spark, "join_anti")


def test_sort_merge_full_outer(spark):
    plan = plan_of(spark, "join_sort_merge_full")
    assert "SortMergeJoin" in plan and "FullOuter" in plan


def test_point_lookup_pushes_equality(spark):
    df = QUERIES["scan_point_lookup"](spark, SF_TEST_DIR)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = formatted.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "EqualTo" in pushed or "o_orderkey" in pushed


def test_no_python_udfs_in_core_queries(spark):
    """Everything except the explicitly-Pandas multimodal path stays JVM-side
    (whole-stage codegen); a stray Python UDF would show BatchEvalPython."""
    for name in (
        "q1_pricing_summary",
        "q5_local_supplier_volume",
        "text_stats",
        "dedup_minhash_lsh",
        "similarity_topk",
    ):
        assert "BatchEvalPython" not in plan_of(spark, name), name


def test_redundant_sort_eliminated(spark):
    """Sort elimination (OrderPreservingTracker analogue): Catalyst's
    EliminateSorts collapses a sort over an identically-sorted input."""
    df = QUERIES["scan_projection"](spark, SF_TEST_DIR)
    double_sorted = df.orderBy("l_orderkey", "l_linenumber").orderBy(
        "l_orderkey", "l_linenumber"
    )
    plan = double_sorted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Sort ") <= 1


def test_extension_joins_no_cartesian(spark):
    for name in ("join_asof", "join_range_bucketed"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


# Stateful entries (they create temp tables / run mutations on build) and the
# explicitly-Pandas / explicitly-cartesian ones are excluded from the sweep.
_SWEEP_EXCLUDE_PREFIXES = ("mutation_", "ddl_", "source_", "engine_", "scan_salted", "meta_row")
_ALLOWED_NESTED_LOOP = {"join_cross"}  # explicit CROSS JOIN of two tiny dims
# The declared Pandas-UDF plumbing: mapInPandas-backed multimodal operators,
# plus the §2.12 UDF-binding surface, whose whole point is Python evaluation.
_ALLOWED_PYTHON = {
    "mm_decode_features", "mm_frame_sample", "mm_resize_thumbnail",
    "udf_create_function",
}
# The measured Arrow-batched kernels — each one a deliberate guide-§4.2
# boundary crossing with a CPU A/B and an exact-equivalence pin on record:
#   * text_repetition_stats (r8 §8: interpreted HOF form ~60x the CPU),
#   * the shingle+md5(+MinHash-signature) kernels (r9: HOF gram-build +
#     32 interpreted permutations, tests/test_shingle_kernel.py).
# The similarity family stays on JVM folds (integer-cosine kernels were
# measured and declined: their joins emit both vectors per scored row, so
# they ship ~1 KB/row across the Arrow boundary and lost at 1x AND 10x
# data — OPTIMIZATION_r09.md §4), so MapInArrow stays BANNED there and for
# every other entry.
_ALLOWED_ARROW = {
    "text_repetition_stats",
    "dedup_minhash_lsh", "dedup_incremental",
    "dedup_simhash", "dedup_simhash128",
    "text_decontaminate", "pipeline_assemble_e2e",
}


def test_plan_audit_all_queries(spark):
    """Sweep every stateless query plan: no cartesian products, no stray
    Python evaluation — the 100 TB anti-pattern gate for the whole registry."""
    for name in sorted(QUERIES):
        if name.startswith(_SWEEP_EXCLUDE_PREFIXES):
            continue
        plan = plan_of(spark, name)
        if name not in _ALLOWED_NESTED_LOOP:
            assert "CartesianProduct" not in plan, name
        if name not in _ALLOWED_PYTHON:
            assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
            # Spark prints the physical nodes capitalized: MapInPandas,
            # FlatMapGroupsInPandas (a lowercase match would never fire)
            assert "MapInPandas" not in plan, name
            assert "FlatMapGroupsInPandas" not in plan, name
        if name not in _ALLOWED_PYTHON and name not in _ALLOWED_ARROW:
            assert "MapInArrow" not in plan, name


def test_partition_pruning_on_partitioned_table(spark, tmp_path):
    """Hive-style partition pruning — the WhereOptimizer key-range analogue
    for partitioned fact tables (100 TB tables are partitioned by date/
    status; a partition predicate must prune at the metadata level, not
    filter rows)."""
    from phoenix_spark.catalog import read_table
    import pyspark.sql.functions as F

    src = str(tmp_path / "orders_part")
    read_table(spark, f"{SF_TEST_DIR}/orders.parquet").write.partitionBy(
        "o_orderstatus"
    ).parquet(src)
    df = spark.read.parquet(src).filter(F.col("o_orderstatus") == "F")
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [" in formatted
    pf = formatted.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert "o_orderstatus" in pf  # predicate reached the partition level


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing = the co-located join strategy at 100 TB (the brief's
    'repartition()/bucketing for co-located joins'): two tables bucketed on
    the join key join without a single Exchange on either side."""
    from phoenix_spark.catalog import read_table
    from pyspark.sql import functions as F
    import uuid

    tag = uuid.uuid4().hex[:8]
    li = read_table(spark, f"{SF_TEST_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = read_table(spark, f"{SF_TEST_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
        f"li_b_{tag}", mode="overwrite"
    )
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        f"ord_b_{tag}", mode="overwrite"
    )
    joined = (
        spark.table(f"li_b_{tag}")
        .hint("merge")
        .join(
            spark.table(f"ord_b_{tag}"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # bucket-aligned: zero shuffles
    spark.sql(f"DROP TABLE li_b_{tag}")
    spark.sql(f"DROP TABLE ord_b_{tag}")


# --- TPC-H extension shapes (tpch_ext.py) ------------------------------------
def test_q4_exists_is_semi_join(spark):
    plan = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q7_q8_broadcast_star_no_cartesian(spark):
    for name in ("q7_nation_volume", "q8_market_share"):
        plan = plan_of(spark, name)
        # dimension sides (customer/supplier/nation/region) all broadcast;
        # the only shuffle join is lineitem⋈orders on the fact keys
        assert plan.count("BroadcastHashJoin") >= 4, name
        assert "CartesianProduct" not in plan, name


def test_q2_correlated_min_is_single_window(spark):
    plan = plan_of(spark, "q2_min_cost_supplier")
    # the correlated MIN subquery decorrelates to ONE window over the
    # candidate set — no re-scan, no cartesian
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_q13_outer_join_with_residual(spark):
    plan = plan_of(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 4  # two partial/final agg pairs


def test_q15_scalar_threshold_is_broadcast(spark):
    # the MAX-revenue scalar is a 1-row broadcast nested-loop (cross) join —
    # constant-size build side, NOT a cartesian over data
    plan = plan_of(spark, "q15_top_supplier")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_q18_topk_and_semi(spark):
    plan = plan_of(spark, "q18_large_volume_customer")
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" in plan


def test_q20_stacked_semi_joins(spark):
    plan = plan_of(spark, "q20_part_promotion")
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_q21_decorrelated_no_rescan_joins(spark):
    plan = plan_of(spark, "q21_suppliers_waiting")
    # EXISTS/NOT EXISTS collapse into per-order aggregates: no cartesian,
    # and the supplier/nation side broadcasts
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan


def test_output_dtype_discipline(spark):
    """Returned columns use only hash-stable types vs the DuckDB oracle:

    - no TIMESTAMP (LTZ): the fixture parquet is naive timestamp[us], so
      LTZ-only functions (unix_micros, from_utc_timestamp, ...) must cast at
      the use site and emit TIMESTAMP_NTZ — collect-time values then match
      DuckDB's naive read bit-for-bit;
    - no DECIMAL or FLOAT outputs: pandas renders Spark Decimal objects /
      float32 differently from DuckDB's — final columns are cast to
      double/bigint/string instead;
    - no ARRAY/MAP/STRUCT outputs: Spark collects them as Python lists but
      DuckDB as numpy arrays, so a stringifying hash diverges — registry
      entries flatten nested results (posexplode) to scalar columns."""
    import pyspark.sql.types as T

    offenders = {}
    for name, fn in QUERIES.items():
        hits = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in fn(spark, SF_TEST_DIR).schema.fields
            if isinstance(
                f.dataType,
                (
                    T.TimestampType,
                    T.DecimalType,
                    T.FloatType,
                    T.ArrayType,
                    T.MapType,
                    T.StructType,
                ),
            )
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_covered_index_probe_plan(spark, tmp_path):
    """Covered-index probe (QueryOptimizer.java:230-236 analogue): the scan
    must read the index projection — not the base table — with the key
    predicate pushed to the parquet reader, whose row-group min/max stats
    prune because index segments are written sorted by the key."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, sf_dir=SF_TEST_DIR, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE pt (k BIGINT NOT NULL, a VARCHAR, b DOUBLE, c VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    e.sql(
        "UPSERT INTO pt SELECT o_orderkey, o_orderpriority, o_totalprice, "
        "o_orderstatus FROM orders"
    )
    e.sql("CREATE INDEX pix ON pt (a) INCLUDE (b)")
    df = e.sql("SELECT a, b FROM pt WHERE a = '1-URGENT'")
    files = df.inputFiles()
    assert files and all("/pix/segments/" in f for f in files)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in formatted
    pushed = formatted.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "EqualTo(a," in pushed  # key predicate reached the parquet reader
    # narrow projection: the uncovered column c never appears in the scan
    read_schema = formatted.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "c:" not in read_schema


def test_sampling_family_plan_shapes(spark):
    # stratified sample: a pure scan-side filter — zero exchanges
    plan = plan_of(spark, "sample_stratified")
    assert "Exchange" not in plan
    # shard-local packing: exactly one shuffle (the shard window), never a
    # single-partition global window
    plan = plan_of(spark, "text_seq_pack")
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan
    # decontamination: benchmark shingle set broadcast, corpus never
    # shuffled by shingle; no cartesian product
    plan = plan_of(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_assemble_e2e_plan_shape(spark):
    plan = plan_of(spark, "pipeline_assemble_e2e")
    assert "BroadcastHashJoin" in plan  # benchmark shingles broadcast


def test_uncovered_index_join_back_plan(spark, tmp_path):
    """Uncovered-index probe (GlobalIndexOptimizationIT behavior): the
    narrow index scan answers the key predicate, its matching base-PK set
    BROADCASTS into a semi-join against the base table — never a shuffle of
    the 100 TB base side, never a cartesian product."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, sf_dir=SF_TEST_DIR, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE ub (k BIGINT NOT NULL, a VARCHAR, b DOUBLE, c VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    e.sql(
        "UPSERT INTO ub SELECT o_orderkey, o_orderpriority, o_totalprice, "
        "o_orderstatus FROM orders"
    )
    e.sql("CREATE UNCOVERED INDEX ubx ON ub (a)")
    df = e.sql("SELECT k, a, b, c FROM ub WHERE a = '1-URGENT'")
    files = df.inputFiles()
    assert any("/ubx/segments/" in f for f in files)  # index answers probe
    assert any("/ub/segments/" in f for f in files)  # join-back to base
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the key predicate is pushed into the narrow INDEX scan
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "EqualTo(a," in formatted.split("PushedFilters", 1)[1].split("\n", 1)[0]


def test_sequence_select_no_single_partition_funnel(spark, tmp_path):
    """NEXT VALUE FOR in a SELECT assigns per-partition id ranges — the plan
    must contain NO single-partition exchange and NO window (the previous
    row_number() OVER (ORDER BY 1) shape funnelled every row through one
    partition, which single-threads a 100 TB SELECT)."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, sf_dir=SF_TEST_DIR, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE SEQUENCE plan_seq START WITH 1 INCREMENT BY 1")
    df = e.sql("SELECT NEXT VALUE FOR plan_seq AS id, o_orderkey FROM orders")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan  # a pure per-row map over the scan
    # values are a permutation of the reserved block
    ids = sorted(r.id for r in df.collect())
    n = len(ids)
    assert ids == list(range(1, n + 1))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan  # packing stays shard-local


def test_dedup_incremental_broadcasts_new_batch(spark):
    """Arriving-batch dedup: the new batch's band rows broadcast into the
    corpus band join — the corpus (the 100 TB side) is never shuffled for
    candidate generation, and there is no cartesian product."""
    plan = plan_of(spark, "dedup_incremental")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_persisted_bucket_pruning(spark):
    """The persisted IVF index is bucketed by cell: a probe reads ONLY the
    probed buckets (static bucket pruning), with zero shuffles on the
    candidate read — and the builder leaves the shared session's
    autoBucketedScan conf exactly as it found it (r04 advice)."""
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    before = spark.conf.get(conf_key, "true")
    df = QUERIES["similarity_ivf_persisted"](spark, SF_TEST_DIR)
    assert spark.conf.get(conf_key, "true") == before
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SelectedBucketsCount: 2 out of 8" in formatted


def test_sample_temperature_broadcast_no_corpus_shuffle(spark):
    """Temperature sampling joins the tiny per-domain threshold table via
    broadcast; the corpus itself is filtered on the scan side, never
    sort-merge shuffled to be sampled."""
    plan = plan_of(spark, "sample_temperature")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_spread_without_file_list_keeps_cores_wide_target(spark, tmp_path):
    """spread() caps its width at one partition per 128 KiB of input files;
    a source with no file list (spark.range) has no size to cap by and
    keeps the cores-wide target, while a tiny file stays one task."""
    from phoenix_spark.queries._util import spread

    cores = spark.sparkContext.defaultParallelism
    assert cores > 1
    ranged = spark.range(0, 1000, 1, 1)
    assert ranged.inputFiles() == []
    assert spread(spark, ranged).rdd.getNumPartitions() == cores
    path = str(tmp_path / "tiny.parquet")
    spark.range(0, 1000, 1, 1).write.parquet(path)
    tiny = spark.read.parquet(path)
    assert spread(spark, tiny).rdd.getNumPartitions() == 1


def test_bench_measures_cpu_and_counts_with_ui_off(spark):
    """bench.py's per-query measurement reads executor CPU and Spark's
    counts in-process, so it works on a session with no UI server (the
    HTTP poller it replaced recorded nothing there)."""
    import bench
    from perfbench.tracer import SparkProbe

    assert spark.conf.get("spark.ui.enabled") == "false"
    probe = SparkProbe(spark)
    runs, counts = bench.measure(
        spark, probe, QUERIES["q1_pricing_summary"], SF_TEST_DIR
    )
    cpu_s = round(counts["jobs.executor_cpu_s"], 3)
    assert len(runs) == 3
    assert isinstance(cpu_s, float) and cpu_s > 0
    assert counts["jobs.count"] >= 1
