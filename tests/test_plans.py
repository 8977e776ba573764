"""Physical-plan shape tests: the scale-critical plan properties
(pushdown, pruning, broadcast, top-k, codegen) pinned as assertions so a
regression fails loudly instead of costing 100x on a real cluster."""

from __future__ import annotations

from pyspark.sql.functions import broadcast as F_broadcast
from pyspark.sql.functions import col as F_col

from tests.conftest import SF_SMOKE
from tf_datapipeline_spark import registry
from tf_datapipeline_spark.plans.inspect import (
    codegen_subtree_count,
    formatted_plan,
    has_operator,
    has_pushed_filters,
    join_strategies,
    read_schema_columns,
)


def _q(name, spark):
    return registry.queries()[name](spark, SF_SMOKE)


def test_filter_reaches_parquet_scan(spark):
    """q06's shipdate/discount/quantity predicates must appear as
    PushedFilters on the lineitem scan."""
    assert has_pushed_filters(_q("q06_forecast_revenue", spark))
    assert has_pushed_filters(_q("q02_filter_project", spark))


def test_column_pruning_is_narrow(spark):
    """q01 touches 7 of lineitem's 11 columns; the scan must not read
    more (a full-width scan of a 100 TB table is the canonical fail)."""
    schemas = read_schema_columns(_q("q01_pricing_summary", spark))
    assert schemas, "no parquet scan found"
    for cols in schemas:
        assert cols <= {
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        }


def test_dim_joins_broadcast(spark):
    """q05 joins lineitem against customer/supplier/nation/region dims —
    every one must be a BroadcastHashJoin (no shuffle of the fact side)."""
    joins = join_strategies(_q("q05_region_revenue", spark))
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins


def test_topk_uses_take_ordered(spark):
    """q09 (ORDER BY ... LIMIT k) must plan as TakeOrderedAndProject —
    per-partition heaps, no global sort."""
    assert has_operator(_q("q09_topk_orders", spark), "TakeOrderedAndProject")


def test_flagship_runs_in_codegen(spark):
    """Pin the whole-stage-codegen property with AQE momentarily off —
    AdaptiveSparkPlan reports 0 subtrees until execution, but the
    underlying stages are the same ones AQE will compile."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert codegen_subtree_count(_q("q01_pricing_summary", spark)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_knn_has_no_cartesian_product(spark):
    """Brute-force kNN must not plan a CartesianProduct of embeddings x
    embeddings; the packed/broadcast formulation keeps it linear."""
    joins = join_strategies(_q("q70_knn_bruteforce", spark))
    assert "CartesianProduct" not in joins, joins


def test_bucketed_join_has_no_exchange(spark):
    """orders ⋈ lineitem both bucketed on the join key: the join must plan
    WITHOUT any Exchange (the shuffle was paid once at write time) and
    return the same rows as the plain join."""
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.plans.inspect import formatted_plan
    from tf_datapipeline_spark.sources.bucketing import colocated_join

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        df = colocated_join(spark, SF_SMOKE)
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        plain = load_table(spark, SF_SMOKE, "orders").join(
            load_table(spark, SF_SMOKE, "lineitem"),
            F_col("o_orderkey") == F_col("l_orderkey"),
        )
        assert df.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_partition_pruning(spark):
    """A filter on the partition column must prune directories
    (PartitionFilters in the scan), not just filter rows."""
    import shutil

    from tf_datapipeline_spark.plans.inspect import formatted_plan
    from tf_datapipeline_spark.sources.etl import scratch_dir
    from tf_datapipeline_spark.sources.partitioned import (
        partition_dirs,
        read_events_day,
        write_events_by_date,
    )

    out = scratch_dir("events_by_date/x").rsplit("/", 1)[0]
    shutil.rmtree(out, ignore_errors=True)
    write_events_by_date(spark, SF_SMOKE, out)
    days = [d.split("=")[1] for d in partition_dirs(out)]
    assert len(days) > 1
    df = read_events_day(spark, out, days[0])
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "event_date" in plan
    # pruned scan reads exactly the one day's rows
    full = spark.read.parquet(out)
    day_rows = full.filter(F_col("event_date") == days[0]).count()
    assert df.count() == day_rows > 0


def test_exact_numbering_has_no_single_partition_exchange(spark):
    """Every caller of pipeline.offset_scan numbers or sums in partition
    offsets: its plan must contain NO `Exchange SinglePartition` (the
    1-task global-window bottleneck the old formulation paid)."""
    from tf_datapipeline_spark.plans.inspect import formatted_plan

    for name in (
        "q32_split_exact_head",
        "q35_batch_ragged_tail",
        "q36_shard_assignment",
        "q5d_sequence_packing",
        "qt7_tokenize_pack",
        # the clustering-depth audit numbers 60M rows at sf10 — the
        # window must stay partitioned by the orderkey bucket
        "q9j_clustering_depth",
        # windows the oracle keys on the 5-value c_mktsegment (q26/q28)
        # or the 2-value funnel step (q4zm) must stay partitioned by
        # (group, bucket) / (segment, balance)
        "q26_ntile_frames",
        "q28_distribution_ranks",
        "q4zm_funnel_latency",
        # three global ranks over the per-user triple
        "q4zf_rfm_segments",
    ):
        plan = formatted_plan(_q(name, spark))
        assert "SinglePartition" not in plan, (name, plan)


def test_contamination_broadcasts_benchmark_grams(spark):
    """q5c's overlap join must broadcast the (tiny) benchmark n-gram set —
    a shuffle join here would re-exchange the full corpus gram stream."""
    from tf_datapipeline_spark.plans.inspect import formatted_plan

    plan = formatted_plan(_q("q5c_contamination", spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_salted_range_join_exchanges_on_salt(spark):
    """q4v must shuffle on the salted key: the exchange's hash
    partitioning carries _salt, so a hot (user, bucket) key spreads over
    n reducers instead of one."""
    from tf_datapipeline_spark.plans.inspect import formatted_plan

    # at smoke SF the salted side fits a broadcast (no shuffle at all, also
    # fine); force the shuffle path to pin the salted exchange shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(_q("q4v_range_join_salted", spark))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert "_salt" in plan, plan
    low = plan.lower()
    assert "hashpartitioning" in low and "_salt" in low.split("hashpartitioning", 1)[1], plan


def test_salted_join_matches_plain_join(spark):
    """Salted fact ⋈ dim must return exactly the plain join's rows, with
    the hot key spread over n salts pre-shuffle."""
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.operators.skew import salted_join

    # skewed fact: lineitem with 60% of rows forced onto one supplier
    li = load_table(spark, SF_SMOKE, "lineitem").withColumn(
        "s_key",
        F_col("l_suppkey") % 3,
    )
    dim = (
        load_table(spark, SF_SMOKE, "supplier")
        .withColumn("s_key", F_col("s_suppkey") % 3)
        .select("s_key", "s_name")
        .distinct()
    )
    plain = li.join(dim, "s_key").groupBy("s_name").count()
    salted = salted_join(li, dim, "s_key", n_salts=4).groupBy("s_name").count()
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_no_accidental_cross_products(spark):
    """Engine-wide join audit: no query may plan a CartesianProduct, and
    every BroadcastNestedLoopJoin must broadcast a relation STRUCTURALLY
    bounded by the query text — verified per-NLJ by
    plans.inspect.unbounded_nlj_builds (literal relation, one-row scalar,
    keyless aggregate, literal-id-filtered query set, or a join that
    key-filters through one of those). This replaced an earlier per-query
    name allowlist because a blanket exemption
    would let a future edit plan a genuine corpus x corpus nested loop
    silently — and the structural audit promptly caught q75/q76
    broadcasting the (corpus x 8-sub) side while streaming the 8-row
    codeword side (fixed with BROADCAST hints). The only remaining
    name-level exemption is the pmod-domain idiom the parser cannot
    prove: q68/qt2's 16-row centroid dim is a grouped aggregate whose
    key is pmod(vec_id, 16) — bounded by the literal modulus, but the
    grouping-key domain isn't visible in the physical plan."""
    from tf_datapipeline_spark.plans.inspect import (
        join_strategies,
        unbounded_nlj_builds,
    )

    pmod_domain_bounded = {
        # 16-row centroid dim = groupBy(pmod(vec_id, 16)) aggregate: key
        # domain is the literal modulus; every other NLJ in these plans
        # passes the structural audit
        "q68_semantic_dedup",
        "qt2_prep_semantic",
        # source-pair enumeration: srcs a < b self-join over the DISTINCT
        # source dimension — domain-bounded by the corpus SCHEMA (source
        # is a feed/shard name: tens here, at most thousands anywhere),
        # not by the row count; the sketch rows the pairs then join are
        # capped at k per source by construction
        "q6h_kmv_source_overlap",
        # file-manifest self-join: both sides are the 64-row grouped
        # aggregate keyed on (rn-1) div ceil(total/_CLUSTER_FILES) — the
        # key domain is bounded by the literal _CLUSTER_FILES, but (like
        # q68's pmod) that arithmetic bound isn't visible in the plan
        "q9j_clustering_depth",
        # source x length-band grid: both cross-join sides are rollups
        # over DOMAIN-bounded keys — source (a feed/shard name, the q6h
        # rationale) and band = floor(n_chars / 64) (document length is
        # schema-capped); the grid is metadata-sized at any corpus size
        # but neither bound is visible in the plan
        "q5w_chi2_drift",
    }
    # Accumulate violations across ALL queries before asserting — a single
    # failure must not shadow the rest of the sweep (an in-loop assert
    # once left q7c/q9a/q9b unaudited).
    violations: list[tuple[str, object]] = []
    for name, fn in sorted(registry.queries().items()):
        if "stream" in name:
            continue  # streaming results come from a memory sink scan
        df = fn(spark, SF_SMOKE)
        joins = join_strategies(df)
        if "CartesianProduct" in joins:
            violations.append((name, joins))
        elif "BroadcastNestedLoopJoin" in joins and name not in pmod_domain_bounded:
            bad = unbounded_nlj_builds(df)
            if bad:
                violations.append((name, bad))
    assert not violations, violations


def test_chunking_has_no_exchange(spark):
    """q5g (document chunking) is embarrassingly parallel — sequence/
    explode/substring per row. Any Exchange in its plan means a shuffle
    crept into a map-only pipeline (a 100 TB scan would pay it for
    nothing)."""
    from tf_datapipeline_spark.plans.inspect import formatted_plan

    plan = formatted_plan(_q("q5g_doc_chunking", spark))
    assert "Exchange" not in plan, plan


def test_multigrain_rollup_partial_aggregates(spark):
    """q4d fans each event out to 3 (grain, bucket) cells; the partial
    HashAggregate must sit below the single Exchange so the shuffle
    carries cells, not the 3x-expanded event rows."""
    from tf_datapipeline_spark.plans.inspect import formatted_plan

    import re

    plan = formatted_plan(_q("q4d_multigrain_rollup", spark))
    # exactly one shuffle (each operator appears once as "(n) <Op>" in the
    # formatted detail section; the tree repeats them without numbers)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    # map-side partial aggregate below it
    assert "partial_sum" in plan and "partial_count" in plan, plan


def test_quantile_check_broadcasts_sketch(spark):
    """q1w's verification pass joins lineitem back against the 3-row
    sketch result — that side must broadcast (shuffling the fact table to
    rank-check 3 rows would invert the cost model)."""
    from tf_datapipeline_spark.plans.inspect import join_strategies

    joins = join_strategies(_q("q1w_approx_quantiles", spark))
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins


def test_no_row_wise_python_udfs(spark):
    """Engine-wide UDF audit: no batch query may plan a BatchEvalPython
    (row-at-a-time Python UDF — the 10-100x slow path). Python is allowed
    only Arrow-batched: MapInPandas / FlatMapGroupsInPandas (decode,
    augment, cogroup kernels) and ArrowEvalPython (vectorized pandas_udf
    array kernels)."""
    from tf_datapipeline_spark.plans.inspect import formatted_plan

    for name, fn in sorted(registry.queries().items()):
        if "stream" in name:
            continue  # streaming results come from a memory sink scan
        plan = formatted_plan(fn(spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, (
            f"{name} plans a row-at-a-time Python UDF"
        )


def test_collect_sites_are_bounded_metadata_only():
    """Source-level audit: .collect() inside the engine package is the
    un-distributed anti-pattern, so every site must be on the explicit
    allowlist of BOUNDED metadata collects (per-bucket aggregate rows,
    k-row centroid tables, shard manifests). A new .collect() on row
    data (like q87's old driver-side fixture loop) fails here until it
    is either made executor-side or consciously allowlisted."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "tf_datapipeline_spark"
    allowed = {
        # (file, enclosing function): why it is bounded
        ("operators/multimodal.py", "q8h_tfrecord_roundtrip"),  # shard manifest rows
        # the partition-offset scan: ≤ _MAX_OFFSET_BUCKETS + 1 per-(group,
        # bucket) rows (a limited collect), then on overflow ≤ |groups|·k
        # rows after equi-depth coarsening (k ≤ _MAX_OFFSET_BUCKETS; the
        # row count that picks k is an observed metric, not a collect);
        # groups is a low-cardinality metadata key by contract (q26's
        # 5-value c_mktsegment)
        ("operators/pipeline.py", "offset_scan"),
        # <= _BPE_K merge-table rows (top-K over a partial aggregate);
        # inlined as literals so the vocab fold stays codegen-cheap
        ("operators/text.py", "_bpe_doc_counts"),
        ("operators/similarity.py", "q73_knn_ann_ivf"),  # k=16 centroid rows
        ("operators/similarity.py", "q77_knn_ivfpq"),  # k=16 seed-centroid rows
        ("operators/similarity.py", "nearest_seed"),  # <=16 seed rows (q7k, q7b)
        # ONE argmax row per maximin round, K-1 rounds total (the
        # sequential farthest-first ledger q7n/qt6 seed from — each
        # round's distance update stays executor-side; only the single
        # winner row crosses to the driver)
        ("operators/similarity.py", "_farthest_first_picks"),
        # <= _COARSE_CAP coarse seed rows — the filter itself caps the row
        # count at a corpus-INDEPENDENT constant (the fine split happens
        # executor-side). Pinned corpus-independent below. Lives in
        # semcells.semantic_cells_df (shared by q6b and q7c).
        ("operators/semcells.py", "semantic_cells_df"),
        ("streaming/events_stream.py", "q7a_stream_sq_ingest"),  # 64 dim-range rows
        # query-set-bounded shortlist: _N_QUERIES x _MMR_POOL rel rows +
        # _N_QUERIES x _MMR_POOL^2 pairwise sims (~4.6k rows, corpus-
        # independent — the distributed corpus pass happens BEFORE the
        # collect; the greedy is serving-layer work by design). The bound
        # is LINEAR in query count x pool^2, so q7f enforces it at runtime
        # against _MMR_COLLECT_CAP and fails fast past the ceiling — see
        # test_mmr_driver_greedy_regime_guard below.
        ("operators/similarity.py", "q7f_mmr_rerank"),
        # the class-data archive's fixed warm-up: <= 180 rows from a
        # generated 20k-row table, collected so the driver's collect
        # path is loaded (and archived) too
        ("cds.py", "warm_up"),
    }
    found = set()
    for py in pkg.rglob("*.py"):
        tree = ast.parse(py.read_text())
        rel = str(py.relative_to(pkg))

        def visit(node, fn_name):
            for child in ast.iter_child_nodes(node):
                name = fn_name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name if fn_name is None else fn_name
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "collect"
                ):
                    found.add((rel, fn_name or "<module>"))
                visit(child, name)

        visit(tree, None)
    unexpected = found - allowed
    assert not unexpected, (
        f"unreviewed .collect() sites (add executor-side write or "
        f"allowlist with a bounded-rows justification): {sorted(unexpected)}"
    )


def test_vector_folds_live_in_one_module():
    """Source-level audit: the order-pinned vector fold is spelled only in
    functions/vectors.py. Every other array fold in the package — an
    F.aggregate call, or `aggregate(` / `list_reduce(` in SQL text — must
    be on the allowlist with a reason. A new inline fold over embeddings
    fails here until it uses the module."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "tf_datapipeline_spark"
    allowed = {
        # (file, enclosing function): why it is not a vectors.py fold
        # integer ADC sum over the quantized LUT (order-independent)
        ("operators/similarity.py", "q77_knn_ivfpq"),
        # PageRank contributions summed in src order
        ("operators/dedup.py", "q6g_pagerank"),
        ("operators/dedup.py", "_pagerank_oracle"),
        # integer reconstruction-error sum of the SQ codes
        ("streaming/events_stream.py", "q7a_stream_sq_ingest"),
        # integer char_sum over tokens
        ("operators/text.py", "q59_gopher_filter"),
        # integer sum of winnowed fingerprints
        ("operators/text.py", "q5h_winnow_fingerprint"),
        # BPE merge rounds over string units, and their length sums
        ("operators/text.py", "_bpe_round_spark"),
        ("operators/text.py", "_bpe_round_duckdb"),
        ("operators/text.py", "_bpe_encode_oracle"),
        ("operators/text.py", "_bpe_doc_counts"),
    }
    fold_sql = re.compile(r"\b(aggregate|list_reduce)\(")
    found = set()
    for py in pkg.rglob("*.py"):
        rel = str(py.relative_to(pkg))
        if rel == "functions/vectors.py":
            continue

        def visit(node, fn_name):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.Expr) and isinstance(
                    child.value, ast.Constant
                ):
                    continue  # a docstring, not code
                name = fn_name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name if fn_name is None else fn_name
                is_call = (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "aggregate"
                )
                is_sql = (
                    isinstance(child, ast.Constant)
                    and isinstance(child.value, str)
                    and fold_sql.search(child.value)
                )
                if is_call or is_sql:
                    found.add((rel, fn_name or "<module>"))
                visit(child, name)

        visit(ast.parse(py.read_text()), None)
    unexpected = found - allowed
    assert not unexpected, (
        "inline array folds (use functions/vectors.py, or allowlist with "
        f"a reason): {sorted(unexpected)}"
    )
    assert allowed <= found, f"stale allowlist entries: {sorted(allowed - found)}"


def test_dialect_spellings_live_in_one_module():
    """Source-level audit: a shared Spark/DuckDB builder writes one text,
    and a spelling the two engines do not share comes from
    functions/dialect.py (or, for the order-pinned folds and the md5 hex
    window, functions/vectors.py and functions/texthash.py). A
    `dialect ==` comparison anywhere else fails here, and so does an
    exact sum's `CONCAT(SUM(` decimal-to-string route outside
    functions/exact.py (use sql_dsum)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "tf_datapipeline_spark"
    allowed = {"functions/dialect.py", "functions/vectors.py", "functions/texthash.py"}
    compare = re.compile(r"\bdialect\s*==")
    lines = [
        (str(py.relative_to(pkg)), i, line)
        for py in pkg.rglob("*.py")
        for i, line in enumerate(py.read_text().splitlines(), 1)
    ]
    found = sorted(
        f"{rel}:{i}"
        for rel, i, line in lines
        if rel not in allowed and compare.search(line)
    )
    assert not found, (
        "dialect branches outside functions/dialect.py (spell it once, or "
        f"add the differing construct there): {found}"
    )
    exact_sum = re.compile(r"CONCAT\(SUM\(", re.IGNORECASE)
    inline = sorted(
        f"{rel}:{i}"
        for rel, i, line in lines
        if rel != "functions/exact.py" and exact_sum.search(line)
    )
    assert not inline, f"exact sums spelled inline (use sql_dsum): {inline}"


def test_row_loops_live_in_one_place():
    """Source-level audit: a row-at-a-time Python stage is a row function
    handed to functions/rows.map_rows, the one loop over Arrow batches.
    Every other function the package hands to mapInPandas,
    applyInPandas or applyInPandasWithState works on whole batches or
    groups and is on the allowlist with a reason; a new `for pdf in
    batches` loop that yields a pd.DataFrame fails here until it uses
    map_rows."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "tf_datapipeline_spark"
    allowed = {
        # (file, function handed to Spark): why it is not a row loop
        # one vectorized rfft over the whole batch's (rows, 256) matrix
        ("operators/multimodal.py", "spectro"),
        # numpy union-find over every edge of the partition at once
        ("operators/dedup.py", "_local_stars"),
        # one similarity tile per block pair (a group, not a row)
        ("operators/dedup.py", "emit_pairs"),
        # per-user as-of merge of two cogrouped frames
        ("operators/events.py", "merge"),
        # per-cell nearest-centroid matrix product over a cogroup
        ("operators/semcells.py", "assign"),
        # writes one TFRecord shard file per (split, shard) group
        ("sources/tfrecord.py", "write_shard"),
        # applyInPandasWithState folds: per-key state across batches
        ("streaming/events_stream.py", "_stateful_counts"),
        ("streaming/events_stream.py", "_funnel_state"),
        ("streaming/events_stream.py", "_funnel_latency_state"),
        # the class-data archive's warm-up of both pandas code paths
        ("cds.py", "double"),
        ("cds.py", "count"),
    }
    apis = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
    found = set()
    for py in pkg.rglob("*.py"):
        rel = str(py.relative_to(pkg))
        if rel == "functions/rows.py":
            continue
        for node in ast.walk(ast.parse(py.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in apis
            ):
                fn = (
                    node.args[0]
                    if node.args
                    else next(k.value for k in node.keywords if k.arg == "func")
                )
                found.add((rel, ast.unparse(fn)))
    unexpected = found - allowed
    assert not unexpected, (
        "pandas batch functions outside functions/rows.py (write a row "
        f"function for map_rows, or allowlist with a reason): {sorted(unexpected)}"
    )
    assert allowed <= found, f"stale allowlist entries: {sorted(allowed - found)}"


def test_text_rules_live_in_one_place():
    """Source-level audit: the quality gate's threshold, the stopword
    list, the whitespace token split and the md5 content fingerprint
    are spelled only in the text rule definitions of operators/text.py
    (and the split's dialect pair in functions/dialect.py). Components
    and composites select those definitions; a gate, stopword filter,
    split or exact-dup key written anywhere else fails here."""
    import ast
    import pathlib
    import re

    from tf_datapipeline_spark.operators.text import _GATE_MIN_CHARS

    pkg = pathlib.Path(__file__).resolve().parent.parent / "tf_datapipeline_spark"
    rules = {
        "operators/text.py": {
            "_tokens_spark",
            "_tokens_sql",
            "_STOPWORDS",
            "_n_stop_spark",
            "_n_stop_sql",
            "_GATE_MIN_CHARS",
            "_quality_spark",
            "_quality_sql",
            "_fingerprint_spark",
            "_FINGERPRINT_SQL",
        },
        "functions/dialect.py": {"split_ws"},
    }
    # the gate's threshold, the rule's constants, a whitespace split,
    # an md5 of the document text
    spelled = re.compile(
        rf"n_chars\W*>=\s*{_GATE_MIN_CHARS}\b"
        r"|\b_GATE_MIN_CHARS\b|\b_STOPWORDS\b"
        r"|\bsplit\b.*\\+s\+|\bsplit_ws\(|regexp_split_to_array"
        r"""|\bmd5\(\s*["']?text["']?\s*\)"""
    )
    found = []
    for py in pkg.rglob("*.py"):
        rel = str(py.relative_to(pkg))
        source = py.read_text()
        exempt = set()
        defined = set()
        for node in ast.parse(source).body:
            names = {getattr(node, "name", None)} | {
                t.id for t in getattr(node, "targets", []) if isinstance(t, ast.Name)
            }
            if names & rules.get(rel, set()):
                defined |= names
                exempt.update(range(node.lineno, node.end_lineno + 1))
        assert defined >= rules.get(rel, set()), (
            f"stale rule names in {rel}: {sorted(rules[rel] - defined)}"
        )
        found += [
            f"{rel}:{i}: {line.strip()}"
            for i, line in enumerate(source.splitlines(), 1)
            if i not in exempt and spelled.search(line)
        ]
    assert not found, (
        "text rules spelled outside their definitions in operators/text.py "
        f"(select _quality_*, _n_stop_*, _tokens_*, _fingerprint_*): {found}"
    )


def test_temp_views_are_bound_only_in_catalog():
    """Source-level audit: only catalog.py binds a temp view. A shared
    table goes through catalog.sql_with, which drops every name it binds,
    so the session's temp views stay the catalog tables."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "tf_datapipeline_spark"
    binders = {
        "createTempView",
        "createOrReplaceTempView",
        "createGlobalTempView",
        "createOrReplaceGlobalTempView",
    }
    found = set()
    for py in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in binders:
                found.add(str(py.relative_to(pkg)))
    assert found == {"catalog.py"}, sorted(found)


def test_registry_build_leaves_only_catalog_views(spark):
    """Building every registered query once in one session leaves exactly
    the catalog tables as temp views: no shared table, digest source or
    stream sink outlives the call that bound it. A new session keeps the
    other tests' views out of the count."""
    from tf_datapipeline_spark.catalog import TABLES

    session = spark.newSession()
    for name, fn in sorted(registry.queries().items()):
        fn(session, SF_SMOKE)
    views = {t.name for t in session.catalog.listTables() if t.isTemporary}
    assert views == set(TABLES), sorted(views - set(TABLES))


def test_mmr_driver_greedy_regime_guard(spark):
    """q7f's driver-side greedy is allowlisted ONLY under the documented
    shortlist bound: _N_QUERIES * _MMR_POOL * (1 +
    _MMR_POOL) rows must stay under _MMR_COLLECT_CAP, and a configuration
    past the ceiling must fail fast with the regime message instead of
    silently growing the collect."""
    import pytest

    from tf_datapipeline_spark.operators import similarity as sim

    # current config is comfortably inside the regime
    assert sim._mmr_collect_rows() <= sim._MMR_COLLECT_CAP
    assert sim._mmr_collect_rows() == (
        sim._N_QUERIES * sim._MMR_POOL * (1 + sim._MMR_POOL)
    )
    # past the ceiling the operator refuses to run (fail fast, no collect)
    orig = sim._MMR_POOL
    try:
        sim._MMR_POOL = 4096  # 8 * 4096 * 4097 >> cap
        with pytest.raises(ValueError, match="out of driver-greedy regime"):
            sim.q7f_mmr_rerank(spark, SF_SMOKE)
    finally:
        sim._MMR_POOL = orig


def test_semantic_centroid_collect_is_corpus_independent():
    """q6b once collected max(16, n/128) centroid rows — LINEAR in the
    corpus — to the driver. The current shape caps the
    driver-visible coarse level at _COARSE_CAP and splits the residual
    executor-side; this pins that the cap holds at ANY corpus size (the
    allowlist entry above relies on it), that the target cell count
    still grows with the corpus (per-cell pair work stays bounded), and
    that coarse x fine covers the target."""
    from tf_datapipeline_spark.operators.dedup import (
        _COARSE_CAP,
        _semantic_cells_config,
    )

    for n in [0, 500, 10**5, 10**7, 10**9, 10**12]:
        target, k1, n_fine = _semantic_cells_config(n)
        assert k1 <= _COARSE_CAP, f"driver-side centroid rows unbounded at n={n}"
        assert target == max(16, n // 128)  # cell growth keeps pairs linear
        assert k1 * n_fine >= target  # hierarchy covers the target count
        assert n_fine <= -(-target // k1) + 1  # no overshoot blow-up


def test_nlj_audit_catches_corpus_broadcast(spark):
    """Negative control for the structural NLJ audit: a deliberate
    corpus-sized broadcast build (broadcast(documents) cross-joined
    against documents) must be flagged — otherwise the audit above is
    vacuously green."""
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.plans.inspect import unbounded_nlj_builds

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id")
    bad = F_broadcast(docs).crossJoin(docs.select(F_col("doc_id").alias("d2")))
    assert unbounded_nlj_builds(bad), "corpus broadcast not flagged"


# Heavy per-row streams over `documents` (md5 shingles/tokens, the winnow
# transform): catalog.docs_scan_source must feed each of them, directly or
# through the table it materializes.
_DOCS_STREAM_QUERIES = [
    "q62_minhash_signature",
    "q64_simhash",
    "q65_ngram_jaccard",
    "q6h_kmv_source_overlap",
    "q6k_lsh_calibration",
    "q5h_winnow_fingerprint",
    "q5p_ngram_novelty",
    "qt1_prep_pipeline",
]


def _docs_round_robin_exchanges(plan: str) -> list[bool]:
    """For each round-robin Exchange over a `documents` scan in a
    simple-mode plan tree, whether a Generate (explode) sits between the
    scan and the Exchange — an exchange above the explode shuffles
    n_positions x text instead of the slim input."""
    lines = plan.splitlines()

    def depth(i: int) -> int:
        return len(lines[i]) - len(lines[i].lstrip(" +-:"))

    def ancestors(j: int) -> list[int]:
        out, d = [], depth(j)
        for k in range(j - 1, -1, -1):
            if lines[k].strip() and depth(k) < d:
                out.append(k)
                d = depth(k)
        return out

    out = []
    for i, line in enumerate(lines):
        if "Exchange RoundRobinPartitioning" not in line:
            continue
        for j in range(i + 1, len(lines)):
            if not lines[j].strip() or depth(j) <= depth(i):
                break
            if "FileScan parquet" in lines[j] and "documents.parquet" in lines[j]:
                path = [k for k in ancestors(j) if k > i]
                out.append(any("Generate " in lines[k] for k in path))
    return out


def test_docs_streams_use_adaptive_source(spark, monkeypatch, tmp_path):
    """The adaptive documents source must not drop silently. On the
    one-file smoke corpus (fewer splits than cores) every heavy stream
    gets a round-robin Exchange below its explode; on a copy split into
    2 x defaultParallelism files the split-count gate returns 0 and no
    such Exchange appears."""
    import shutil

    from tf_datapipeline_spark import catalog

    assert catalog.adaptive_scan_parallelism(spark, SF_SMOKE) > 0
    split_dir = str(tmp_path)
    for name in catalog.TABLES:
        if name != "documents":
            shutil.copyfile(
                catalog.table_path(SF_SMOKE, name), catalog.table_path(split_dir, name)
            )
    n_files = 2 * spark.sparkContext.defaultParallelism
    catalog.load_table(spark, SF_SMOKE, "documents").repartition(n_files).write.parquet(
        catalog.table_path(split_dir, "documents")
    )
    assert catalog.adaptive_scan_parallelism(spark, split_dir) == 0

    # record the plan of every table a query localCheckpoints on the way
    # (those builds never show in the final plan), then the final plan
    def simple_plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    plans = []
    cls = type(spark.range(1))
    original = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(simple_plan(self))
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)

    def exchanges(name, sf_dir):
        plans.clear()
        plans.append(simple_plan(registry.queries()[name](spark, sf_dir)))
        return [x for p in plans for x in _docs_round_robin_exchanges(p)]

    for name in _DOCS_STREAM_QUERIES:
        rr = exchanges(name, SF_SMOKE)
        assert rr, f"{name}: no round-robin Exchange on the one-file corpus"
        assert not any(rr), f"{name}: round-robin Exchange above the explode"
        assert not exchanges(name, split_dir), (
            f"{name}: round-robin Exchange on the split corpus"
        )


def test_lsh_pairs_plan_is_one_join(spark):
    """q63's executed plan bands the signatures with ONE self-join of the
    band index on (band, bkey), the cap's window and both join sides
    reading one exchange — not a join per band (plus a cap join each)
    under a Union."""
    df = _q("q63_minhash_lsh_pairs", spark)
    assert df.collect()  # runs the frame's own plan to its final form
    final = formatted_plan(df).split("== Final Plan ==")[1]
    final = final.split("== Initial Plan ==")[0]
    joins = [
        line
        for line in final.splitlines()
        if any(op in line for op in ("HashJoin", "SortMergeJoin", "NestedLoopJoin"))
    ]
    assert len(joins) == 1, joins
    assert "Union" not in final
    assert final.count("Exchange") == 3, final  # index, its reuse, DISTINCT
    assert "ReusedExchange" in final, final


def test_q65_bands_its_candidates_once(spark):
    """q65 materializes its LSH candidate pairs once: the shingle-set
    build and the final verify plan both read that checkpoint, so the
    final plan has no band-index window (and none of its exchange)."""
    df = _q("q65_ngram_jaccard", spark)
    assert df.collect()
    final = formatted_plan(df).split("== Final Plan ==")[1]
    final = final.split("== Initial Plan ==")[0]
    assert "Window" not in final, final


def _capture_plans():
    import importlib.util
    import os

    from tests.conftest import REPO_DIR

    spec = importlib.util.spec_from_file_location(
        "capture_plans", os.path.join(REPO_DIR, "tools", "capture_plans.py")
    )
    capture_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(capture_plans)
    return capture_plans


def test_canonical_plan_ignores_expand_group_order():
    """tools/capture_plans.canonical_plan: an Expand whose distinct
    groups Spark ordered by expression ids reads the same in either
    order, as do the attribute lists downstream of it."""
    capture_plans = _capture_plans()

    def plan(groups: list[str], base: int) -> str:
        # `groups` in Spark's order; `base` shifts every expression id
        g1, g2 = (f"{g}#{base + i}L" for i, g in enumerate(groups))
        split, gid = f"split#{base + 2}", f"gid#{base + 3}"
        shard_gid = 1 + groups.index("shard")
        return "\n".join(
            [
                "(4) Expand",
                f"Input [3]: [{split}, {g1}, {g2}]",
                f"Arguments: [[{split}, null, null, 0], [{split}, {g1}, null, 1], "
                f"[{split}, null, {g2}, 2]], [{split}, {g1}, {g2}, {gid}]",
                "(5) Exchange",
                f"Arguments: hashpartitioning({split}, {g1}, {g2}, {gid}, 8)",
                "(6) HashAggregate",
                f"Functions [1]: [partial_count(shard#{base + groups.index('shard')}L)"
                f" FILTER (WHERE ({gid} = {shard_gid}))]",
            ]
        )

    a = plan(["shard", "label"], 10)
    b = plan(["label", "shard"], 30)
    canon = capture_plans.canonical_plan
    assert canon(a) == canon(b)
    assert canon(a) != canon(plan(["shard", "lang"], 10))


def test_canonical_plan_masks_rdd_call_site():
    """tools/capture_plans.canonical_plan: the Java call site of a
    checkpointed or Python-built RDD prints as
    `NativeMethodAccessorImpl.java:0` early in a JVM's life and as
    `<unknown>:0` after its reflection accessor is swapped; both read
    the same, and a different RDD origin does not."""
    canon = _capture_plans().canonical_plan

    def plan(rdd: int, origin: str, site: str) -> str:
        return "\n".join(
            [
                "(1) Scan ExistingRDD",
                f"Output [2]: [doc_a#{rdd + 7}L, doc_b#{rdd + 8}L]",
                f"Arguments: [doc_a#{rdd + 7}L, doc_b#{rdd + 8}L], "
                f"MapPartitionsRDD[{rdd}] at {origin} at {site}, ExistingRDD, "
                "UnknownPartitioning(0)",
            ]
        )

    a = plan(41, "localCheckpoint", "NativeMethodAccessorImpl.java:0")
    b = plan(977, "localCheckpoint", "<unknown>:0")
    assert canon(a) == canon(b)
    assert canon(a) != canon(plan(41, "applySchemaToPythonRDD", "<unknown>:0"))


def test_canonical_stream_plan_masks_run_ids():
    """tools/capture_plans.canonical_stream_plan: two runs of one
    stateful stream differ in run and watermark ids, checkpoint path,
    batch timestamp, writer object and expression ids, and read the
    same; a different state partition count does not."""
    canon = _capture_plans().canonical_stream_plan

    def plan(run: str, ts: int, base: int, parts: int) -> str:
        ck = f"file:/tmp/temporary-{run}/state"
        return "\n".join(
            [
                "WriteToDataSourceV2 MicroBatchWrite[epoch: 0, writer: "
                f"org.apache.spark.sql.execution.streaming.sources."
                f"MemoryStreamingWrite@{ts % 65536:x}]",
                f"+- !FlatMapGroupsInPandasWithState f(user_id#{base}L), "
                f"[user_id#{base}L], state info [ checkpoint = {ck}, "
                f"runId = {run}, opId = 0, ver = 0, numPartitions = {parts}] "
                f"stateStoreCkptIds = None, 2, Update, NoTimeout, {ts}, 0, 0, false",
                f"   +- Exchange hashpartitioning(user_id#{base}L, {parts}), "
                "REQUIRED_BY_STATEFUL_OPERATOR, [plan_id=40]",
                f"      +- EventTimeWatermark {run}, ts#{base + 1}: timestamp, 1 hours",
            ]
        )

    run = "c49a5e69-9b45-4d77-9de2-86a87b291b76"
    a = plan(run, 1792412549403, 17, 4)
    b = plan("0999ad5f-5a27-47b1-80c6-175f7e9747b5", 1792412551077, 517, 4)
    assert canon(a) == canon(b)
    assert canon(a) != canon(plan(run, 1792412549403, 17, 8))


def test_capture_keeps_scan_filters_whole(spark):
    """tools/capture_plans.capture prints a scan's filter list whole.
    Spark cuts a scan field at spark.sql.maxMetadataStringLength (100
    characters) before the expression ids are masked, so a cut plan
    read differently when the ids had more or fewer digits. qt4's
    stream scans documents under the quality gate's filters, longer
    than the cut; the session's own setting is left as it was."""
    key = "spark.sql.maxMetadataStringLength"
    before = spark.conf.get(key)
    plans = dict(_capture_plans().capture(spark, ["qt4_stream_ingest"], SF_SMOKE))
    assert spark.conf.get(key) == before
    scans = [
        line
        for line in plans["qt4_stream_ingest"].splitlines()
        if "FileScan" in line and "DataFilters: [" in line
    ]
    assert scans
    for line in scans:
        filters = line.split("DataFilters: [", 1)[1].split("], Format: ", 1)
        assert len(filters) == 2 and "..." not in filters[0], line
        assert "(n_chars#NL >= 100)" in filters[0] and "size(filter(" in filters[0]
