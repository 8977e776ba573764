"""Pure-python property tests (no SparkSession — fast) for the
deterministic primitives the engine's reproducibility rests on."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import jobs_in_group
from tf_datapipeline_spark.functions.texthash import MERSENNE, minhash_params
from tf_datapipeline_spark.operators.pipeline import (
    _SHUFFLE_MOD,
    _SHUFFLE_MULT,
)


def test_shuffle_mult_is_bijective_mod_2_32():
    """gcd(mult, 2^32) == 1 -> the multiplicative key is a permutation of
    Z_2^32 (no two rows collide, no ordering bias from lost states)."""
    import math

    assert math.gcd(_SHUFFLE_MULT, _SHUFFLE_MOD) == 1


@settings(max_examples=200, deadline=None)
@given(a=st.integers(0, 2**31 - 1), b=st.integers(0, 2**31 - 1))
def test_shuffle_key_injective_on_inputs(a, b):
    ka = (a * _SHUFFLE_MULT) % _SHUFFLE_MOD
    kb = (b * _SHUFFLE_MULT) % _SHUFFLE_MOD
    assert (ka == kb) == (a == b)


def test_minhash_params_frozen_and_valid():
    """The permutation constants are part of the signature contract: same
    seed -> same params, a in [1, p-1], b in [0, p-1], pairwise distinct."""
    p1 = minhash_params(8)
    p2 = minhash_params(8)
    assert p1 == p2
    assert len(set(p1)) == 8
    for a, b in p1:
        assert 1 <= a < MERSENNE
        assert 0 <= b < MERSENNE
        # (a*h + b) with h < p stays under 2^62 (ANSI-safe)
        assert a * (MERSENNE - 1) + b < 2**62


@settings(max_examples=100, deadline=None)
@given(h=st.integers(0, 2**32 - 1))
def test_minhash_perm_stays_in_range(h):
    for a, b in minhash_params(8):
        v = (a * (h % MERSENNE) + b) % MERSENNE
        assert 0 <= v < MERSENNE


@settings(max_examples=100, deadline=None)
@given(seed=st.integers(0, 2**31), row=st.integers(0, 2**40))
def test_rng_for_row_is_stable_and_row_dependent(seed, row):
    from tf_datapipeline_spark.functions.imageops import rng_for_row

    a = rng_for_row(seed, row).integers(0, 2**31)
    b = rng_for_row(seed, row).integers(0, 2**31)
    c = rng_for_row(seed, row + 1).integers(0, 2**31)
    assert a == b
    assert (a != c) or True  # collisions allowed but same-(seed,row) must agree


def test_offset_scan_running_sum_matches_global_window(spark):
    """The partition-offset running sum must equal the single-partition
    global window it replaces, for any bucket width."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tf_datapipeline_spark.operators.pipeline import offset_scan

    rows = [(i, (i * 37) % 11) for i in range(257)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    w = (
        Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    expected = {
        r.k: r.s
        for r in df.withColumn(
            "s", F.coalesce(F.sum("v").over(w), F.lit(0))
        ).collect()
    }
    for width in (1, 16, 300):
        got, _ = offset_scan(
            df, F.floor(F.col("k") / width), ["k"], weight=F.col("v"), name="s"
        )
        assert {r.k: r.s for r in got.collect()} == expected, width


def test_connected_components_long_chain(spark):
    """A 400-node chain has propagation diameter 399 — plain neighbor-min
    label propagation could never converge inside 30 rounds. Pointer
    jumping must collapse it (O(log diameter) rounds) and label every
    node with the chain's minimum id."""
    from pyspark.sql import functions as F

    from tf_datapipeline_spark.operators.dedup import connected_components

    n = 400
    chain = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    # directed chain only — connected_components symmetrizes internally
    labels = connected_components(chain, max_rounds=30)
    got = {r.doc_id: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_multiple_components(spark):
    """Three disjoint components (chain, triangle, isolated edge) must
    each take their own minimum as label."""
    from tf_datapipeline_spark.operators.dedup import connected_components

    raw = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
    pairs = spark.createDataFrame(raw, "doc_a long, doc_b long")
    labels = {r.doc_id: r.label for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_path_over_many_partitions(spark):
    """A 20k-node path spread round-robin over 16 partitions: no two
    edges of one partition share a node, so the local contraction
    merges nothing and the global rounds must carry the whole diameter.
    Pointer jumping converges it to label 0 within the 30-round cap; a
    1-round cap must raise instead of returning unconverged labels."""
    from pyspark.sql import functions as F

    from tf_datapipeline_spark.operators.dedup import connected_components

    n = 20_000
    path = (
        spark.range(n - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        .repartition(16)
    )
    labels = connected_components(path)
    assert labels.count() == n
    assert labels.filter(F.col("label") != 0).count() == 0
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_rounds=1)


def _reference_components(edges):
    """Loop union-find reference: node -> minimum node id of its
    component."""
    parent = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def test_connected_components_independent_of_partitions_and_batches(spark):
    """The labels are a function of the edge SET: the same random
    multigraph (duplicates, self-loops, many components) arriving in 1
    or 16 partitions, cut into Arrow batches of 7 or 2048 records, gets
    the loop union-find's labels every time — the contraction's output
    must not depend on partition or batch boundaries."""
    import random

    from tf_datapipeline_spark.operators.dedup import connected_components

    rng = random.Random(7)
    raw = [(rng.randrange(3000), rng.randrange(3000)) for _ in range(2500)]
    raw += raw[:100] + [(5, 5), (2999, 2999)]  # duplicates, self-loops
    expected = _reference_components(raw)
    assert len(set(expected.values())) > 100  # many components
    edges = spark.createDataFrame(raw, "doc_a long, doc_b long")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    try:
        for batch in ("7", "2048"):
            spark.conf.set(key, batch)
            for parts in (1, 16):
                got = connected_components(edges.repartition(parts))
                assert {r.doc_id: r.label for r in got.collect()} == expected, (
                    batch,
                    parts,
                )
    finally:
        spark.conf.set(key, saved)


def test_connected_components_one_partition_is_one_job(spark):
    """Edges in ONE partition: the local contraction sees every edge, so
    its checkpoint already holds the final labels. Connected components
    is that one checkpoint job, with no seed or confirming round, and
    its labels are the loop union-find's."""
    import random

    from tf_datapipeline_spark.operators.dedup import connected_components

    rng = random.Random(11)
    raw = [(rng.randrange(2000), rng.randrange(2000)) for _ in range(1500)]
    raw += [(7, 7), (7, 7)]  # a self-loop, twice
    expected = _reference_components(raw)
    edges = spark.createDataFrame(raw, "doc_a long, doc_b long")
    # the repartition's shuffle is the input's cost, not the operator's
    one = edges.repartition(1).localCheckpoint()
    labels, n_jobs = jobs_in_group(
        spark, "cc-one-partition", lambda: connected_components(one)
    )
    assert n_jobs == 1, n_jobs
    assert {r.doc_id: r.label for r in labels.collect()} == expected


def test_cc_labels_build_runs_few_jobs(spark):
    """The pair graph's labels on the smoke corpus — signature build,
    LSH pairs and the contraction, whose one-partition checkpoint is the
    labels — stay within 8 Spark jobs (6 today). A per-round count join,
    a separate pairs checkpoint, per-band pair joins or rounds after an
    exact contraction coming back push it past the bound."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.operators.dedup import materialize_cc_labels

    labels, n_jobs = jobs_in_group(
        spark, "cc-labels-job-count", lambda: materialize_cc_labels(spark, SF_SMOKE)
    )
    assert labels.count() > 0
    assert n_jobs <= 8, n_jobs


def test_hot_bucket_caps_bind_like_the_oracle(spark, monkeypatch):
    """The hot-bucket caps never bind at the test data's scales (largest
    sf0.001 bucket: 8 docs per MinHash band, 123 per aHash band), so
    lower them until they do: q63 and q8i must still match their DuckDB
    twins, rebuilt under the same caps, and must lose pairs."""
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare
    from tf_datapipeline_spark.operators import dedup, multimodal

    cases = [
        (dedup, "_BUCKET_CAP", 3, dedup.q63_minhash_lsh_pairs, dedup._lsh_pairs_sql),
        (
            multimodal,
            "_AHD_CAP",
            16,
            multimodal.q8i_image_near_dup,
            multimodal._image_near_dup_oracle,
        ),
    ]
    for module, cap, low, q, oracle in cases:
        uncapped = q(spark, SF_SMOKE).count()
        monkeypatch.setattr(module, cap, low)
        df = q(spark, SF_SMOKE)
        compare(df, oracle(), SF_SMOKE, name=f"{q.__name__} {cap}={low}")
        assert 0 < df.count() < uncapped, (q.__name__, uncapped)


def test_substring_dup_interval_union(spark):
    """q69's Spark side counts covered tokens as an interval UNION via a
    lag window (contrib = min(K, gap)); pin the union math directly on a
    crafted two-doc corpus where spans overlap, abut, and disjoin —
    independent of the oracle comparison, which could miss a
    symmetric-in-both-engines bug only if both used the same formula."""
    import pandas as pd

    from tf_datapipeline_spark.operators.dedup import _SUB_K, q69_substring_dup

    # two identical docs: every position duplicated, coverage = n_tokens;
    # a third doc sharing ONLY its first K tokens with them: coverage = K
    base = " ".join(f"w{i}" for i in range(20))
    tail = " ".join(f"x{i}" for i in range(12))
    prefix = " ".join(f"w{i}" for i in range(_SUB_K))
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [base, base, f"{prefix} {tail}"],
            "n_chars": [len(base), len(base), len(prefix) + 1 + len(tail)],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
        }
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pdf.to_parquet(os.path.join(d, "documents.parquet"))
        got = {
            r.doc_id: (r.n_tokens, r.n_dup_tokens)
            for r in q69_substring_dup(spark, d).collect()
        }
    assert got[0] == (20, 20)
    assert got[1] == (20, 20)
    assert got[2] == (_SUB_K + 12, _SUB_K)


def _shared_table_of(query_name):
    """A build function for a query's one shared table: it builds the
    registered query and returns the checkpoint that build made
    (catalog.sql_with binds it only while the query is analyzed)."""

    def build(spark, sf_dir):
        from tf_datapipeline_spark import registry

        made = []
        cls = type(spark.range(1))
        real = cls.localCheckpoint

        def recording(self, *args, **kwargs):
            made.append(real(self, *args, **kwargs))
            return made[-1]

        cls.localCheckpoint = recording
        try:
            registry.queries()[query_name](spark, sf_dir)
        finally:
            cls.localCheckpoint = real
        (table,) = made
        return table

    return build


def _sig(spark, sf_dir):
    from tf_datapipeline_spark.operators.dedup import _materialize_sig

    return _materialize_sig(spark, sf_dir)


def _cc_labels(spark, sf_dir):
    from tf_datapipeline_spark.operators.dedup import materialize_cc_labels

    return materialize_cc_labels(spark, sf_dir)


def _ahash(spark, sf_dir):
    from tf_datapipeline_spark.operators.multimodal import _ahash_table

    return _ahash_table(spark, sf_dir)


_MATERIALIZED_TABLES = {
    "sig": _sig,
    "cc_labels": _cc_labels,
    "dims": _shared_table_of("q78_sq_encode"),
    "ahash": _ahash,
    "kmv_base": _shared_table_of("q9e_kmv_quantile_rollup"),
    "dv_pospl": _shared_table_of("q9g_deletion_vectors"),
}


@pytest.mark.parametrize("table", sorted(_MATERIALIZED_TABLES))
def test_materialization_is_per_invocation(spark, table):
    """Every shared table is rebuilt on EVERY invocation — a session
    memo let min-of-N bench passes time a cached-table read instead of
    the build the row claims to measure, and served stale rows after an
    in-place table rewrite. Two invocations must each run the build
    (Spark jobs in their own job group; a memo hit runs none) and
    produce independent checkpoints with identical values."""
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    build = _MATERIALIZED_TABLES[table]
    frames, n_jobs = [], []
    for i in range(2):
        group = f"per-invocation-{table}-{i}"
        sc.setJobGroup(group, group)
        try:
            frames.append(build(spark, SF_SMOKE))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    a, b = frames
    assert a is not b
    assert min(n_jobs) >= 1, f"{table}: an invocation ran no build ({n_jobs})"
    rows_a = sorted(map(tuple, a.collect()), key=repr)
    rows_b = sorted(map(tuple, b.collect()), key=repr)
    assert rows_a == rows_b and rows_a


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_sql_with_checkpoints_in_order_and_drops_its_names(spark, monkeypatch):
    """catalog.sql_with binds each shared entry under its bare name, in
    order: SQL text is checkpointed once, a DataFrame is bound as it is,
    and a later entry reads the earlier ones. Every bound name is gone
    once the body is analyzed, also when the body fails to analyze, and
    a name that collides with a catalog table raises before any bind."""
    from pyspark.errors import AnalysisException

    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import sql_with

    checkpointed = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        checkpointed.append(self.columns)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    before = _temp_views(spark)
    df = sql_with(
        spark,
        SF_SMOKE,
        "SELECT a.x, b.y FROM a JOIN b ON b.x = a.x",
        base=spark.range(5),
        a="SELECT id AS x FROM base WHERE id < 3",
        b="SELECT x, x * 10 AS y FROM a",
    )
    assert checkpointed == [["x"], ["x", "y"]]  # SQL entries only, in order
    assert _temp_views(spark) == before
    assert sorted(map(tuple, df.collect())) == [(0, 0), (1, 10), (2, 20)]

    with pytest.raises(AnalysisException):
        sql_with(spark, SF_SMOKE, "SELECT * FROM no_such_table", a="SELECT 1 AS x")
    assert _temp_views(spark) == before

    checkpointed.clear()
    with pytest.raises(ValueError, match="orders"):
        sql_with(spark, SF_SMOKE, "SELECT 1", a="SELECT 1 AS x", orders="SELECT 1")
    assert checkpointed == [] and _temp_views(spark) == before


def test_oracle_with_reads_shared_ctes_from_a_nested_body():
    """catalog.oracle_with: the body reads the shared CTEs by name, also
    from inside its own WITH list, and a later shared CTE reads an
    earlier one."""
    import duckdb

    from tf_datapipeline_spark.catalog import oracle_with

    sql = oracle_with(
        "WITH c AS (SELECT x + y AS z FROM b) SELECT z FROM c ORDER BY z",
        a="SELECT * FROM range(3) t(x)",
        b="SELECT x, x * 10 AS y FROM a",
    )
    assert duckdb.sql(sql).fetchall() == [(0,), (11,), (22,)]


def _copy_of_smoke_tables(sf_dir: str) -> None:
    import shutil

    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import catalog

    for name in catalog.TABLES:
        shutil.copyfile(
            catalog.table_path(SF_SMOKE, name), catalog.table_path(sf_dir, name)
        )


def test_refresh_table_exposes_in_place_rewrites(spark, tmp_path):
    """An in-place table rewrite followed by Spark's own
    `spark.catalog.refreshTable` is visible to every query. q67 (CC
    labels), q72 (dims), q9e (KMV base) and q9g (DV positions) once kept
    their shared tables in session memos that kept returning the
    pre-rewrite answer."""
    import pyarrow.parquet as pq

    from tests.oracle_harness import compare
    from tf_datapipeline_spark import catalog, registry

    sf_dir = str(tmp_path)
    _copy_of_smoke_tables(sf_dir)
    names = [
        "q67_dedup_clusters",
        "q72_label_centroids",
        "q9e_kmv_quantile_rollup",
        "q9g_deletion_vectors",
    ]
    qs, oracle = registry.queries(), registry.oracle_sql()
    before = {
        n: sorted(map(tuple, qs[n](spark, sf_dir).collect()), key=repr)
        for n in names
    }
    # keep every other row: same schema, different contents
    rewritten = ("documents", "embeddings", "events", "orders")
    for name in rewritten:
        path = catalog.table_path(sf_dir, name)
        t = pq.read_table(path)
        pq.write_table(t.take(list(range(0, t.num_rows, 2))), path)
    for name in rewritten:
        spark.catalog.refreshTable(name)
    for n in names:
        df = qs[n](spark, sf_dir)
        compare(df, oracle[n], sf_dir, name=n)
        after = sorted(map(tuple, df.collect()), key=repr)
        assert after != before[n], f"{n}: the rewrite did not change its answer"


def test_refresh_table_reads_a_table_grown_in_place(spark, tmp_path):
    """A view pins its table's file listing: a file that grows in place
    is read only up to its old length, so rows go missing until
    `spark.catalog.refreshTable` lists it again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tf_datapipeline_spark import catalog

    sf_dir = str(tmp_path)
    _copy_of_smoke_tables(sf_dir)
    path = catalog.table_path(sf_dir, "orders")
    t = pq.read_table(path)
    assert catalog.load_table(spark, sf_dir, "orders").count() == t.num_rows
    pq.write_table(pa.concat_tables([t] * 40), path)
    stale = catalog.load_table(spark, sf_dir, "orders").count()
    assert stale < 40 * t.num_rows, "the old listing read the grown file whole"
    spark.catalog.refreshTable("orders")
    assert catalog.load_table(spark, sf_dir, "orders").count() == 40 * t.num_rows


def test_register_views_recovers_dropped_view(spark):
    """The register_views same-dir skip must notice a
    dropped temp view and re-register instead of silently returning."""
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table, register_views, table_path

    register_views(spark, SF_SMOKE)
    spark.catalog.dropTempView("documents")
    register_views(spark, SF_SMOKE)
    assert spark.catalog.tableExists("documents")
    spark.catalog.dropTempView("documents")
    n = pq.ParquetFile(table_path(SF_SMOKE, "documents")).metadata.num_rows
    assert load_table(spark, SF_SMOKE, "documents").count() == n
    assert spark.catalog.tableExists("documents")


def _testdata_tables():
    import glob
    import os

    from tf_datapipeline_spark.catalog import TABLES, table_path

    return [
        pytest.param(sf, name, id=f"{os.path.basename(sf)}-{name}")
        for sf in sorted(glob.glob("/root/testdata/sf*"))
        for name in TABLES
        if os.path.exists(table_path(sf, name))
    ]


@pytest.mark.parametrize("sf_dir,name", _testdata_tables())
def test_footer_schema_equals_inferred_schema(spark, sf_dir, name):
    """The catalog declares every table's schema from its parquet footer
    instead of running Spark's inference job. The declared schema must
    be exactly the inferred one — names, types and nullability — or a
    divergence would read as nulls or retyped columns downstream. The
    date columns must stay TIMESTAMP_NTZ (what DuckDB reads)."""
    from pyspark.sql.types import TimestampNTZType

    from tf_datapipeline_spark.catalog import footer_schema, load_table, table_path

    path = table_path(sf_dir, name)
    inferred = spark.read.parquet(path).schema
    assert footer_schema(path) == inferred
    if name != "events":  # events.ts is normalized after the read
        assert load_table(spark, sf_dir, name).schema == inferred
    if name == "orders":
        assert isinstance(inferred["o_orderdate"].dataType, TimestampNTZType)
    if name == "lineitem":
        assert isinstance(inferred["l_shipdate"].dataType, TimestampNTZType)


def test_footer_schema_of_spark_output_dir(spark, tmp_path):
    """A table stored as a Spark output directory (several part files,
    _SUCCESS and .crc side files) gets the same footer schema as Spark
    infers, and the catalog reads every row of it."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import footer_schema, load_table, table_path

    docs = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    out = table_path(str(tmp_path), "documents")
    docs.repartition(3).write.parquet(out)
    assert footer_schema(out) == spark.read.parquet(out).schema
    assert load_table(spark, str(tmp_path), "documents").count() == docs.count()


@pytest.mark.parametrize(
    "unit,tz,raw",
    [("ns", None, "bigint"), ("us", None, "timestamp_ntz"), ("us", "UTC", "timestamp")],
)
def test_events_raw_ts_type_from_footer(spark, tmp_path, unit, tz, raw):
    """events.ts's storage type comes from the footer, with no Spark
    job, and names what the parquet reader reports for each storage
    era: TIMESTAMP(NANOS) as raw-nanos bigint, naive µs as NTZ,
    tz-aware as TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tf_datapipeline_spark.catalog import events_raw_ts_type, table_path

    ts = pa.array([1704067200_000000], pa.timestamp("us")).cast(pa.timestamp(unit, tz))
    path = table_path(str(tmp_path), "events")
    pq.write_table(pa.table({"ts": ts}), path, store_schema=False)
    assert events_raw_ts_type(spark, str(tmp_path)) == raw
    assert dict(spark.read.parquet(path).dtypes)["ts"] == raw


def test_approx_top_k_certification_regime(spark):
    """Found by an sf1 parity sweep: with capacity below the
    distinct-key count, the frequent-items sketch reports only items it
    can CERTIFY as heavy, and on near-uniform data that set is
    legitimately empty — q1i's exact oracle therefore requires
    capacity >= distinct (_TOPK_TRACKED = Spark's 1M ceiling covers
    sf1's 200k keys; past ~1M distinct only the certified regime
    exists), while the small-capacity production regime still certifies
    genuinely skewed keys. Pin all three behaviors so the capacity
    contract can't rot silently."""
    df = spark.range(0, 100000).selectExpr("CAST(id % 30000 AS BIGINT) AS k")
    small = spark.sql(
        "SELECT approx_top_k(k, 5, 8192) t FROM {df}", df=df
    ).collect()[0].t
    assert small == []  # uniform data, capacity << distinct: none certifiable
    big = spark.sql(
        "SELECT approx_top_k(k, 5, 32768) t FROM {df}", df=df
    ).collect()[0].t
    assert len(big) == 5 and all(it["count"] == 4 for it in big)
    skew = df.union(spark.range(0, 5000).selectExpr("CAST(777777 AS BIGINT) AS k"))
    got = spark.sql(
        "SELECT approx_top_k(k, 1, 1024) t FROM {skew}", skew=skew
    ).collect()[0].t
    assert [it["item"] for it in got] == [777777]


def test_heavy_hitters_regime_guard_fires(spark):
    """q1i's capacity guard: when distinct keys exceed
    _TOPK_TRACKED the query must fail FAST with a capacity message, not
    hand the gate an opaque empty-vs-top10 value mismatch. Shrink the
    capacity under the sf0.001 distinct-part-key count and expect the
    assert_true to fire with the regime text."""
    import pytest

    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.operators import relational

    orig = relational._TOPK_TRACKED
    relational._TOPK_TRACKED = 20  # << distinct part keys at any sf
    try:
        with pytest.raises(Exception, match="out of exact-oracle regime"):
            relational.q1i_heavy_hitters(spark, SF_SMOKE).collect()
    finally:
        relational._TOPK_TRACKED = orig


def test_semantic_cells_fine_path_oracle_exact(spark):
    """The hierarchical (coarse x fine) cell path only fires above
    ~_COARSE_CAP*128 vectors, so the sf0.001/sf0.01 gates never execute
    it. Force it locally: shrink _COARSE_CAP to 4 (500 vecs -> target 16,
    k1 4, n_fine 4), rebuild the dynamic-cell oracle with the SAME
    patched cap, and require q6b hash-exact — this pins the two-pass
    fine split (narrow-window stride picks + cogrouped block assignment)
    to the oracle's grp/fcfg/fcent replay at test scale."""
    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import compare
    from tf_datapipeline_spark.operators import dedup, semcells

    orig = semcells._COARSE_CAP
    semcells._COARSE_CAP = 4
    try:
        df = dedup.q6b_semantic_dedup_scaled(spark, SF_ORACLE)
        compare(df, dedup._q6b_sql(), SF_ORACLE, "q6b-fine-path")
    finally:
        semcells._COARSE_CAP = orig


def test_semantic_dedup_production_twin_agrees(spark):
    """q6b (production shape: corpus-scaled cluster count, numpy cell
    assignment, float cosines) must reach the same keep decisions as the
    oracle-checked q68 at the scales where both use 16 cells — the float
    path can only diverge inside a ~1e-12 cosine sliver, which this
    corpus never hits. Pins SCALING.md's claim that the frozen-cell
    oracle contract and the deployment config are the same operator."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.operators.dedup import (
        q68_semantic_dedup,
        q6b_semantic_dedup_scaled,
    )

    exact = {r.vec_id: (r.cell, r.keep) for r in q68_semantic_dedup(spark, SF_SMOKE).collect()}
    prod = {r.vec_id: (r.cell, r.keep) for r in q6b_semantic_dedup_scaled(spark, SF_SMOKE).collect()}
    assert exact == prod


def test_quality_audit_detects_known_defects(spark):
    """q1x must actually DETECT: the driver testdata carries duplicate
    (l_orderkey, l_linenumber) pairs and ship-before-order rows at
    sf0.01+, so those two checks must fail while the clean constraints
    pass — an audit that green-lights everything is vacuous."""
    from tests.conftest import SF_ORACLE
    from tf_datapipeline_spark.operators.relational import q1x_quality_audit

    rows = {r.check_name: r for r in q1x_quality_audit(spark, SF_ORACLE).collect()}
    assert set(rows) == {
        "null_keys", "quantity_range", "positive_price", "discount_range",
        "pk_unique", "fk_orders", "ship_after_order",
    }
    for clean in ("null_keys", "quantity_range", "positive_price",
                  "discount_range", "fk_orders"):
        assert rows[clean]["pass"] == 1, clean
        assert rows[clean].n_violations == 0, clean
    assert rows["pk_unique"].n_violations > 0
    assert rows["ship_after_order"].n_violations > 0


def test_snapshot_diff_matches_derivation_rules(spark):
    """q1y's change set must match the snapshot derivation exactly:
    inserts = keys dropped from old (mod 10 == 0), deletes = keys
    dropped from new (mod 10 == 1), updates = repriced keys
    (mod 7 == 2) present in both — and nothing else (unchanged-row
    suppression is the op's point)."""
    from tests.conftest import SF_ORACLE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.operators.relational import q1y_snapshot_diff

    keys = [r.o_orderkey for r in
            load_table(spark, SF_ORACLE, "orders").select("o_orderkey").collect()]
    exp_ins = {k for k in keys if k % 10 == 0}
    exp_del = {k for k in keys if k % 10 == 1}
    exp_upd = {k for k in keys if k % 7 == 2 and k % 10 not in (0, 1)}
    got = {"insert": set(), "delete": set(), "update": set()}
    for r in q1y_snapshot_diff(spark, SF_ORACLE).collect():
        got[r.change_type].add(r.o_orderkey)
    assert got["insert"] == exp_ins
    assert got["delete"] == exp_del
    assert got["update"] == exp_upd


def test_stream_ingest_agrees_with_q6c_and_quality(spark):
    """Cross-op consistency: qt4's accepted set must be exactly the
    quality-passing delta docs MINUS the docs q6c flags as near-dups of
    the corpus (at driver scales no LSH bucket exceeds the cap, so
    q6c's capped index and qt4's uncapped anti-join see the same
    matches)."""
    from tests.conftest import SF_ORACLE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.operators.dedup import _DELTA_MOD
    from tf_datapipeline_spark.operators.text import _STOPWORDS
    from tf_datapipeline_spark.streaming.events_stream import (
        q6c_stream_incremental_dedup,
        qt4_stream_ingest,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_ORACLE, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    quality = {
        r.doc_id
        for r in docs.filter(
            (F.col("doc_id") % _DELTA_MOD == 0)
            & (F.col("n_chars") >= 100)
            & (F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))) > 0)
        ).select("doc_id").collect()
    }
    matched = {
        r.new_id for r in q6c_stream_incremental_dedup(spark, SF_ORACLE).collect()
    }
    accepted = {r.doc_id for r in qt4_stream_ingest(spark, SF_ORACLE).collect()}
    assert accepted == quality - matched


def test_triangles_live_inside_cc_clusters(spark):
    """Cross-op consistency: every q6d triangle is a 3-clique of q63
    edges, so all three vertices must carry the same q67 connected-
    component label — a triangle spanning two clusters would mean the
    edge list and the CC labels disagree."""
    from tests.conftest import SF_ORACLE
    from tf_datapipeline_spark.operators.dedup import (
        q67_dedup_clusters,
        q6d_triangle_count,
    )

    label = {
        r.doc_id: r.cluster_id for r in q67_dedup_clusters(spark, SF_ORACLE).collect()
    }
    tris = q6d_triangle_count(spark, SF_ORACLE).collect()
    assert tris, "corpus should contain at least one near-dup triangle"
    for t in tris:
        assert label[t.doc_a] == label[t.doc_b] == label[t.doc_c], t


def test_bloom_prescreen_has_no_false_negatives(spark):
    """Bloom screening may pass non-duplicates (the FP trade) but must
    NEVER clear an actual duplicate — a false negative silently admits a
    dup past the expensive dedup stage it was routed around. The driver
    corpus has no cross-boundary exact dups, so pin the guarantee on a
    seeded frame: delta docs 30/40 duplicate corpus texts and MUST carry
    maybe_dup=1 (and exact_dup=1), while a unique delta doc may carry
    either maybe flag but never exact."""
    from tf_datapipeline_spark.operators.dedup import _bloom_body

    rows = [(i, f"text {i}") for i in range(1, 30)] + [
        (30, "text 3"),
        (40, "text 7"),
        (50, "nothing like the corpus"),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").createOrReplaceTempView(
        "documents"
    )
    try:
        out = {
            r.doc_id: (r.maybe_dup, r.exact_dup)
            for r in spark.sql(_bloom_body("spark")).collect()
        }
    finally:
        spark.catalog.dropTempView("documents")
    assert out[30] == (1, 1)
    assert out[40] == (1, 1)
    assert out[50][1] == 0
    assert all(m == 1 for m, e in out.values() if e == 1)


def test_zorder_layout_prunes_both_dimensions(spark):
    """The point of the interleaved-bit layout: the 2-D probe box must
    scan strictly fewer files AND rows than the single-column (date
    sorted) layout, and stats-based scanning must remain a superset of
    the true matches (skipping is conservative, never lossy)."""
    from tests.conftest import SF_ORACLE
    from tf_datapipeline_spark.operators.layout import q9a_zorder_layout

    row = q9a_zorder_layout(spark, SF_ORACLE).collect()[0]
    assert row.z_files_scanned < row.linear_files_scanned
    assert row.z_rows_scanned < row.linear_rows_scanned
    assert row.z_rows_scanned >= row.matching_rows
    assert row.matching_rows > 0


def test_sketch_rollup_envelope(spark):
    """The q9b contract after an sf1 finding: both the merged
    (union-of-hourly) and direct daily estimates sit inside the HLL
    error envelope of the exact count, for every day. (The old
    merged==DIRECT assertion was a sparse-regime artifact; no
    estimate-level equality survives the transition band — see the q9b
    regime note and the probe test below.)"""
    from tests.conftest import SF_ORACLE
    from tf_datapipeline_spark.operators.layout import q9b_sketch_rollup

    rows = q9b_sketch_rollup(spark, SF_ORACLE).collect()
    assert len(rows) > 0
    assert all(r.merged_within_tol == 1 for r in rows)
    assert all(r.direct_within_tol == 1 for r in rows)


def test_duckdb_decimal_cast_misrounds_near_half_ulp(spark):
    """The sf1 finding behind q66's order-pinned-double rework,
    pinned: DuckDB's double->DECIMAL cast is NOT correctly rounded near
    half-ulp boundaries (it scales by 10^s in double and half-even
    rounds), while Spark's BigDecimal cast rounds the exact decimal
    expansion HALF_UP. The witness is a real sf1 embedding product:
    (-0.19141115248203278)^2 = 0.036638229294500002... — digits beyond
    position 12 exceed a half, so correct rounding is UP (...295, what
    Spark and python's exact Decimal give); DuckDB 1.0 returns ...294.
    The mis-rounding lives in the VECTORIZED executor only — a literal
    expression constant-folds at bind time through a correctly-rounded
    path and hides the bug, so the probe routes the value through a
    table. If a DuckDB upgrade makes this pass the shared-device
    assumption changes: oracles using per-term CAST(double AS DECIMAL)
    (q68/q6b/similarity) could then be revisited, and this probe should
    be updated rather than deleted."""
    from decimal import Decimal

    import duckdb

    x = -0.19141115248203278
    exact = Decimal(x * x)  # exact binary expansion: ...2945000020978...
    correct = exact.quantize(Decimal("1e-12"))  # HALF_UP irrelevant: > half
    assert str(correct) == "0.036638229295"
    spark_val = (
        spark.range(1)
        .selectExpr(
            f"CAST(CAST({x!r} AS DOUBLE) * CAST({x!r} AS DOUBLE)"
            " AS DECIMAL(38,12)) AS v"
        )
        .collect()[0]
        .v
    )
    assert str(spark_val) == "0.036638229295", spark_val  # correctly rounded
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT CAST({x!r} AS FLOAT) AS x")
    duck_vec = con.execute(
        "SELECT CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)"
        " AS DECIMAL(38,12)) FROM t"
    ).fetchone()[0]
    assert str(duck_vec) == "0.036638229294", duck_vec  # mis-rounded (pinned)
    duck_folded = con.execute(
        f"SELECT CAST(CAST({x!r} AS DOUBLE) * CAST({x!r} AS DOUBLE)"
        " AS DECIMAL(38,12))"
    ).fetchone()[0]
    assert str(duck_folded) == "0.036638229295", duck_folded  # folding hides it


def test_kmv_rollup_exact_mergeability_nonvacuous(spark):
    """q9e's headline claim is that bottom-k, unlike HLL (q9b), is
    EXACTLY mergeable: merged-of-hourly == direct daily sketch element
    for element. The oracle already hash-checks the fingerprints; this
    pins that the certification is NON-VACUOUS at test scale — sketches
    genuinely truncate (n_events > sketch_k == _KMV_K on some day, so
    merging really drops hourly survivors) and the equality still holds
    on every day, and that the rank-based estimates are real values
    bracketed by the day's data range."""
    from tests.conftest import SF_ORACLE
    from tf_datapipeline_spark.operators.layout import (
        _KMV_K,
        q9e_kmv_quantile_rollup,
    )

    rows = q9e_kmv_quantile_rollup(spark, SF_ORACLE).collect()
    assert len(rows) > 0
    assert all(r.merged_eq_direct == 1 for r in rows)
    assert any(
        r.sketch_k == _KMV_K and r.n_events > r.sketch_k for r in rows
    ), "sketch never truncated — mergeability certification is vacuous"
    for r in rows:
        assert r.p50_est <= r.p90_est or r.sketch_k < 10
        assert r.p50_exact <= r.p90_exact


def test_sketch_union_no_exact_invariant_in_transition(spark):
    """The q9b sf1 finding, pinned at test scale: replicate the sf1
    day shape (1338 distinct users over 24 hourly sketches — past the
    lgK=12 sparse band where estimates are exact counts) and document
    that NO estimate-level equality survives there: merged vs direct
    (HIP vs composite estimator), merged vs 6-hour-regrouped union, and
    even union idempotence (duplicated inputs) all diverge — while
    every estimate stays inside the error envelope, which is the
    contract q9b certifies. If a future engine version makes these
    equal again, this fails and the q9b contract should be revisited."""
    df = spark.range(0, 1338).selectExpr(
        "id AS user_id", "CAST(id % 24 AS INT) AS hr"
    )
    row = spark.sql(
        """
        WITH hourly AS (
          SELECT hr, hll_sketch_agg(user_id, 12) AS sk FROM {df} GROUP BY hr
        ),
        merged AS (
          SELECT hll_sketch_estimate(hll_union_agg(sk)) AS m FROM hourly
        ),
        regrouped AS (
          SELECT hll_sketch_estimate(hll_union_agg(sk6)) AS r FROM (
            SELECT FLOOR(hr / 6) AS h6, hll_union_agg(sk) AS sk6
            FROM hourly GROUP BY 1
          )
        ),
        idem AS (
          SELECT hll_sketch_estimate(hll_union_agg(sk)) AS i FROM (
            SELECT sk FROM hourly UNION ALL SELECT sk FROM hourly
          )
        ),
        direct AS (
          SELECT hll_sketch_estimate(hll_sketch_agg(user_id, 12)) AS d
          FROM {df}
        )
        SELECT m, r, i, d FROM merged, regrouped, idem, direct
        """,
        df=df,
    ).collect()[0]
    # every equality candidate breaks in the transition band
    assert row.m != row.d or row.m != row.r or row.m != row.i, row
    # ... but the envelope holds for every estimator
    for est in (row.m, row.r, row.i, row.d):
        assert abs(est - 1338) <= 0.05 * 1338, row


def test_spectro_quantization_never_near_flip_boundary():
    """q8m's cross-engine contract rests on floor(A*cos + 0.5) agreeing
    between numpy's cos and DuckDB's libm cos. Both are correctly
    rounded to within ~1 ulp (~1e-16 here), so the quantization can only
    diverge if some sample sits within ulp distance of an integer flip
    boundary. The sample space is FINITE (angles are pi*j/128, j in
    0..255, amplitudes 100-3w for w in 0..10 plus the fixed 30-amp
    harmonic): enumerate all of it and pin the worst-case margin at
    >= 1e-6 — ten orders above libm divergence. By Niven's theorem no
    boundary is hit exactly, but the MEASURED margin is the contract."""
    import numpy as np

    worst = 1.0
    amps = [100 - 3 * w for w in range(11)] + [30]
    j = np.arange(256)
    ang = 2.0 * np.pi * j / 256.0
    for amp in amps:
        x = amp * np.cos(ang) + 0.5
        d = np.minimum(x - np.floor(x), np.ceil(x) - x)
        d = d[d > 1e-12]  # exact integers would be distance 0 from both
        worst = min(worst, float(d.min()))
    assert worst > 1e-6, worst


def test_spectro_fft_contracts_hold_over_full_waveform_space():
    """The three q8m oracle contracts (dominant bin == f, dc == sum(v),
    Parseval round == integer energy) over every distinct waveform the
    corpus can produce: (f, window_idx) in 13 x 10 — n_windows = 4 +
    doc_id % 7 reaches 10, so window_idx reaches 9 (this sweep once
    stopped at 7 and leaving the amp-79/76/73
    waveforms untested; the amp stays positive through widx 9). A
    corpus doc only realizes window_idx < its own n_windows, but the
    waveform function is pure so the full grid is checkable. Also pins
    that the spectral gap to the runner-up bin is macroscopic (no
    argmax tie is ever decided by float noise)."""
    import numpy as np

    from tf_datapipeline_spark.operators.multimodal import (
        _WIN,
        spectro_waveform,
    )

    for f_idx in range(13):
        doc_id = f_idx  # f = 3 + doc_id % 13
        for window_idx in range(10):
            v = spectro_waveform(doc_id, window_idx)
            spec = np.fft.rfft(v)
            mag = np.abs(spec)
            dom = int(np.argmax(mag[1:129])) + 1
            assert dom == 3 + doc_id % 13
            gap = np.sort(mag[1:129])[-1] - np.sort(mag[1:129])[-2]
            assert gap > 1000.0, (f_idx, window_idx, gap)
            assert int(round(float(spec[0].real))) == int(v.sum())
            parseval = (
                mag[0] ** 2 + 2.0 * float((mag[1:128] ** 2).sum()) + mag[128] ** 2
            ) / _WIN
            assert abs(parseval - float((v * v).sum())) < 0.5


def test_bloom_skipping_no_false_negatives(spark):
    """q9f's structural guarantee: a Bloom filter can only over-report.
    Every file that truly contains a probe key must be hit (false_neg
    == 0 for every probe), files_hit >= files_true, and the scan set the
    index plans is a superset in rows too (rows_scanned >= rows_matched).
    Checked at SF_SMOKE where every probe truly occupies >= 7 files."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    rows = (
        registry.queries()["q9f_bloom_skipping"](spark, SF_SMOKE)
        .collect()
    )
    assert len(rows) == 8
    for r in rows:
        assert r.false_neg == 0, r
        assert r.files_hit >= r.files_true, r
        assert r.rows_scanned >= r.rows_matched, r
        assert r.files_true >= 1, r  # probe keys come from the corpus


def test_dsir_selection_discriminates(spark):
    """q5o's sign test must genuinely split the candidate pool at the
    harness scale — if every doc lands on one side, the gate row would
    be checking a constant column. Also pins the score identity: a doc
    made of target-favored tokens must outscore one made of
    raw-favored tokens (monotonicity of the linear form)."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q5o_dsir_select"](spark, SF_SMOKE).collect()
    n_sel = sum(r.selected for r in rows)
    assert 0 < n_sel < len(rows), (n_sel, len(rows))
    # every candidate got a token count and an integer score
    assert all(r.n_tokens > 0 for r in rows)


def test_q66_shuffle_arm_matches_broadcast_arm(spark, monkeypatch):
    """q66's exact arm broadcasts the candidate-pair set, guarded by
    _Q66_CAND_CAP (a mass-near-duplicate corpus makes |candidates| O(n²)
    and would blow the broadcast before the quadratic contract itself
    does). Pin BOTH arms: forcing the cap to 0 routes every corpus down
    the shuffle-join fallback, which must emit exactly the broadcast
    arm's rows — the guard changes the physical join strategy, never
    the result."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.operators import dedup

    base = sorted(
        map(tuple, dedup.q66_embedding_near_dup(spark, SF_SMOKE).collect())
    )
    assert len(base) > 0  # non-vacuous: the threshold admits pairs here
    monkeypatch.setattr(dedup, "_Q66_CAND_CAP", 0)
    shuffled = sorted(
        map(tuple, dedup.q66_embedding_near_dup(spark, SF_SMOKE).collect())
    )
    assert shuffled == base


def test_deletion_vectors_actually_mask(spark):
    """q9g's end-to-end contract: (a) per-file accounting is consistent
    (live + deleted == physical, totals == orders cardinality), (b) the
    DV genuinely masks every row matched by EITHER delete predicate —
    re-evaluating both predicates against the live-row reconstruction
    must find nothing — and (c) deletes are non-vacuous at smoke scale
    (both DV commits fire)."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.catalog import load_table, sql_with
    from tf_datapipeline_spark.operators.layout import _DV_POSPL_SQL

    rows = registry.queries()["q9g_deletion_vectors"](spark, SF_SMOKE).collect()
    orders_n = load_table(spark, SF_SMOKE, "orders").count()
    assert sum(r.file_rows for r in rows) == orders_n
    assert all(r.live_rows + r.dv_count == r.file_rows for r in rows)
    assert sum(r.dv_count for r in rows) > 0
    # reconstruct live rows the same way the operator does and replay
    # both DELETE predicates: a surviving match means the positional
    # mask missed a row (the failure mode positional deletes are
    # notorious for when file/pos assignment drifts between commits)
    live_leaks = sql_with(
        spark,
        SF_SMOKE,
        """
        WITH dv AS (
          SELECT DISTINCT file_id, pos FROM (
            SELECT file_id, pos FROM pospl
            WHERE o_orderstatus = 'F' AND o_custkey % 7 = 0
            UNION ALL
            SELECT file_id, pos FROM pospl WHERE o_orderkey % 13 = 3
          ) u
        ),
        live AS (
          SELECT p.* FROM pospl p
          LEFT ANTI JOIN dv d ON d.file_id = p.file_id AND d.pos = p.pos
        )
        SELECT COUNT(*) AS leaks FROM live
        WHERE (o_orderstatus = 'F' AND o_custkey % 7 = 0)
           OR o_orderkey % 13 = 3
        """,
        pospl=_DV_POSPL_SQL,
    ).collect()[0].leaks
    assert live_leaks == 0


def test_pagerank_mass_and_floor(spark):
    """q6g invariants on the symmetrized near-dup graph (no dangling
    nodes): total rank mass stays ~1 through 3 damped iterations, every
    node keeps at least the teleport floor (1-d)/n, and rank correlates
    with the graph (some node must exceed the uniform 1/n — otherwise
    the iteration was a no-op and the gate row checks a constant)."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q6g_pagerank"](spark, SF_SMOKE).collect()
    assert rows, "near-dup graph empty at smoke scale"
    n = len(rows)
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-9, total
    floor = 0.15 / n
    assert all(r.pagerank >= floor - 1e-12 for r in rows)
    assert any(abs(r.pagerank - 1.0 / n) > 1e-12 for r in rows)
    assert all(r.degree >= 1 for r in rows)


def test_radius_search_consistent_with_topk(spark):
    """q7g vs q70 cross-operator consistency: any exact top-k neighbor
    whose cosine clears the radius must appear in the radius set with
    the SAME similarity (both compute the identical order-pinned fold),
    and every radius hit must clear the threshold."""
    from tf_datapipeline_spark.operators.similarity import _RADIUS_TAU
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    radius = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in registry.queries()["q7g_radius_search"](spark, SF_SMOKE).collect()
    }
    assert all(v >= _RADIUS_TAU for v in radius.values())
    topk = registry.queries()["q70_knn_bruteforce"](spark, SF_SMOKE).collect()
    for r in topk:
        if r.cos_sim >= _RADIUS_TAU:
            assert radius.get((r.query_id, r.neighbor_id)) == r.cos_sim, r


def test_kmv_overlap_estimate_tracks_exact_jaccard(spark):
    """q6h's estimate quality at smoke scale, where the exact shingle
    Jaccard is computable: |est - exact| must sit inside a loose
    4/sqrt(k) band (standard KMV concentration) for every source pair,
    and k_eff == min(k, |sketch union|) structurally."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.operators.dedup import _KMV_K

    rows = registry.queries()["q6h_kmv_source_overlap"](spark, SF_SMOKE).collect()
    assert rows
    # exact per-source 5-char shingle sets, recomputed independently in
    # plain python over the smoke corpus (no SQL shared with the operator)
    from tf_datapipeline_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    shingles: dict[str, set] = {}
    for d in docs:
        if d.text and len(d.text) >= 5:
            s = shingles.setdefault(d.source, set())
            for i in range(len(d.text) - 4):
                s.add(d.text[i : i + 5])
    band = 4.0 / (_KMV_K ** 0.5)
    for r in rows:
        a, b = shingles[r.source_a], shingles[r.source_b]
        exact_j = len(a & b) / len(a | b)
        assert abs(r.jaccard_est - exact_j) <= band, (r, exact_j)
    # k_eff structural check: never exceeds k, equals k when the union
    # sketch is saturated (every pair here has >> k distinct shingles)
    assert all(r.k_eff == _KMV_K for r in rows)


def test_ngram_novelty_bounds_and_first_doc(spark):
    """q5p invariants: novelty in [0,1]; the earliest document with any
    5-gram scores exactly 1.0 (everything it contains is first-seen);
    summed n_novel equals the corpus's distinct-gram count (every gram
    is novel exactly once — the conservation law of first-occurrence)."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q5p_ngram_novelty"](spark, SF_SMOKE).collect()
    assert rows
    assert all(0.0 <= r.novelty <= 1.0 for r in rows)
    assert all(r.n_novel <= r.n_grams for r in rows)
    first = min(rows, key=lambda r: r.doc_id)
    assert first.novelty == 1.0, first
    distinct_grams = spark.sql(
        """
        SELECT COUNT(DISTINCT g) AS n FROM (
          SELECT concat_ws(' ',
                   slice(split(trim(text), '\\\\s+'), CAST(i AS INT), 5)) AS g
          FROM (SELECT text,
                       explode(sequence(1,
                         greatest(size(split(trim(text), '\\\\s+')) - 4, 0))) AS i
                FROM documents)
        )
        """
    ).collect()[0].n
    assert sum(r.n_novel for r in rows) == distinct_grams


def test_ivm_maintenance_algebra_closes(spark):
    """q9h's whole point: the incrementally-maintained aggregate must
    equal the direct recompute in EVERY group (match flags all 1), and
    the test is only meaningful if the CDC delta actually moved the
    view (some group's maintained count/cents differ from base — the
    snapshot mutation guarantees inserts, deletes and reprices at
    smoke scale)."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q9h_incremental_view_maintenance"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    assert all(r.cnt_match == 1 and r.cents_match == 1 for r in rows)
    assert any(r.maint_cnt != r.base_cnt for r in rows)
    assert any(r.maint_cents is not None for r in rows)


def test_filtered_knn_respects_filter_and_exact_scores(spark):
    """q7h invariants: every hit shares its query's label (the filter
    is real); scores agree bit-for-bit with q70 on common (query,
    neighbor) pairs (same order-pinned fold); and every q70 global
    top-k neighbor that happens to share the query's label must appear
    in the filtered top-k (the filtered set can only promote, never
    drop, a same-label global winner)."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.catalog import load_table

    hits = registry.queries()["q7h_filtered_knn"](spark, SF_SMOKE).collect()
    assert hits
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    for r in hits:
        assert r.label == labels[r.query_id], r
        assert r.label == labels[r.neighbor_id], r
    by_pair = {(r.query_id, r.neighbor_id): r.cos_sim for r in hits}
    filtered_ids = {
        q: {r.neighbor_id for r in hits if r.query_id == q}
        for q in {r.query_id for r in hits}
    }
    topk = registry.queries()["q70_knn_bruteforce"](spark, SF_SMOKE).collect()
    for r in topk:
        if labels[r.neighbor_id] == labels[r.query_id]:
            assert r.neighbor_id in filtered_ids[r.query_id], r
            assert by_pair[(r.query_id, r.neighbor_id)] == r.cos_sim, r


def test_markov_transitions_are_probabilities(spark):
    """q4za invariants: per-source probabilities sum to 1 (one IEEE
    division per row over exact integer counts), transition counts equal
    the lag-pair total (every non-first event of every user contributes
    exactly one transition), and the matrix is dense over observed
    types only."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.operators.events import q4za_markov_transitions

    rows = q4za_markov_transitions(spark, SF_SMOKE).collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.prev_type, []).append(r)
        assert 0.0 < r.p_trans <= 1.0, r
    for src, rs in by_src.items():
        assert abs(sum(r.p_trans for r in rs) - 1.0) < 1e-9, src
    ev = load_table(spark, SF_SMOKE, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_trans for r in rows) == n_events - n_users


def test_scd2_version_algebra_closes(spark):
    """q9i invariants: current rows reconstruct the new snapshot exactly
    (keys AND cents), every closed row has valid_to=2, versions per key
    match the key's change class, and no key carries two current rows."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.operators.layout import q9i_scd2_history

    rows = q9i_scd2_history(spark, SF_SMOKE).collect()
    cur = [r for r in rows if r.is_current == 1]
    assert len(cur) == len({r.o_orderkey for r in cur})  # one current/key
    for r in rows:
        if r.is_current == 0:
            assert r.version == 1 and r.valid_to == 2, r
        else:
            assert r.valid_to is None, r
    # current slice == the new snapshot (same derivation as the operator)
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_SMOKE}/orders.parquet'"
    )
    new = dict(
        con.execute(
            """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 2
                        THEN CAST(FLOOR(o_totalprice * 1.1 * 100) AS BIGINT)
                        ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END
            FROM orders WHERE o_orderkey % 10 <> 1
            """
        ).fetchall()
    )
    assert {r.o_orderkey: r.cents for r in cur} == new


def test_recall_eval_matches_component_queries(spark):
    """q7i is the composition of q7e's Hamming top-10 and the exact
    cosine top-10: its per-query n_hit must equal the overlap computed
    from the component queries' own outputs."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.operators.similarity import (
        _N_QUERIES,
        q7e_binary_hamming,
        q7i_recall_eval,
    )

    ham: dict = {}
    for r in q7e_binary_hamming(spark, SF_SMOKE).collect():
        ham.setdefault(r.query_id, set()).add(r.neighbor_id)
    ev = {r.query_id: r for r in q7i_recall_eval(spark, SF_SMOKE).collect()}
    assert set(ev) == set(ham) and len(ev) == _N_QUERIES
    # the exact arm's values are the oracle sweep's job; here pin the
    # harness arithmetic and consistency with the Hamming component: a
    # hit is by definition a member of q7e's top-10, so n_hit can never
    # exceed the Hamming set size, and recall is exactly n_hit/k
    for q, r in ev.items():
        assert r.k == 10 and 0 <= r.n_hit <= 10
        assert abs(r.recall_at_k - r.n_hit / 10.0) < 1e-15
        assert r.n_hit <= len(ham[q])


def test_canonical_pick_ledger_closes(spark):
    """q6i invariants: the per-source ledger is conservative (kept +
    dropped == seen, summed over sources == corpus size), exactly one
    keeper survives per simhash group (total kept == distinct simhash
    count from q64's own output), and the dup-group-winner count equals
    the number of multi-doc groups."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q6i_canonical_pick"](spark, SF_SMOKE).collect()
    assert rows
    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_docs, r
        assert 0 <= r.kept_chars and 0 <= r.n_dup_group_winners <= r.n_kept, r
    sim = registry.queries()["q64_simhash"](spark, SF_SMOKE).collect()
    groups: dict = {}
    for s in sim:
        groups.setdefault(s.simhash, []).append(s.doc_id)
    assert sum(r.n_kept for r in rows) == len(groups)
    n_multi = sum(1 for g in groups.values() if len(g) > 1)
    assert sum(r.n_dup_group_winners for r in rows) == n_multi


def test_vocab_drift_scores_are_exact_cross_products(spark):
    """q5r invariants: every emitted drift_score equals
    |n_a*tot_b - n_b*tot_a| recomputed from an independent token count,
    rates divide by the true totals, and the emitted rows are the top-50
    of the full vocabulary under (score DESC, token ASC)."""
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q5r_vocab_drift"](spark, SF_SMOKE).collect()
    assert rows
    docs = load_table(spark, SF_SMOKE, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).cast("int").alias("half"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
    )
    counts = {
        r.token: (r.n_a, r.n_b)
        for r in toks.groupBy("token")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_b"),
        )
        .collect()
    }
    tot_a = sum(a for a, _ in counts.values())
    tot_b = sum(b for _, b in counts.values())
    for r in rows:
        na, nb = counts[r.token]
        assert (r.n_a, r.n_b) == (na, nb), r
        assert r.drift_score == abs(na * tot_b - nb * tot_a), r
        assert r.rate_a == na / tot_a and r.rate_b == nb / tot_b, r
    expected = sorted(
        ((abs(a * tot_b - b * tot_a), t) for t, (a, b) in counts.items()),
        key=lambda st: (-st[0], st[1]),
    )[:50]
    assert len(rows) == len(expected)  # min(50, vocabulary size)
    assert {(r.drift_score, r.token) for r in rows} == set(expected)


def test_seasonal_baseline_ledger_closes(spark):
    """q4zb invariants: the hour-of-week ledger is conservative (n_base +
    n_eval summed == total non-null-value events), anomalies never exceed
    the eval count, stddev is non-negative wherever a baseline exists,
    and slots with no baseline surface with NULL stats (the FULL OUTER
    contract) rather than disappearing."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q4zb_seasonal_baseline"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    ev = load_table(spark, SF_SMOKE, "events")
    n_vals = ev.filter("value IS NOT NULL").count()
    assert sum(r.n_base + r.n_eval for r in rows) == n_vals
    for r in rows:
        assert 0 <= r.n_anom <= r.n_eval, r
        if r.n_base > 0:
            assert r.base_std is not None and r.base_std >= 0.0, r
            assert r.base_avg is not None, r
        else:
            assert r.base_avg is None and r.base_std is None, r


def test_centroid_drift_is_cosine_of_half_centroids(spark):
    """q7j invariants: drift_cos is a true cosine (|drift| <= 1), the
    half counts partition each label's corpus, and a numpy recompute of
    the quantized half-centroid cosine agrees to float tolerance (the
    bit-exact check is the oracle sweep's job)."""
    import numpy as np
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q7j_centroid_drift"](spark, SF_SMOKE).collect()
    assert rows
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    by_label: dict = {}
    for e in emb:
        by_label.setdefault((e.label, e.vec_id % 2), []).append(
            np.floor(np.asarray(e.embedding, dtype=np.float64) * 2.0**36)
        )
    seen_both = {
        lab
        for lab in {e.label for e in emb}
        if (lab, 0) in by_label and (lab, 1) in by_label
    }
    assert {r.label for r in rows} == seen_both
    for r in rows:
        assert abs(r.drift_cos) <= 1.0 + 1e-12, r
        assert r.n_a == len(by_label[(r.label, 0)]), r
        assert r.n_b == len(by_label[(r.label, 1)]), r
        ca = np.sum(by_label[(r.label, 0)], axis=0) / 2.0**36 / r.n_a
        cb = np.sum(by_label[(r.label, 1)], axis=0) / 2.0**36 / r.n_b
        ref = float(
            ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb))
        )
        assert abs(r.drift_cos - ref) < 1e-9, (r, ref)


def test_cell_balance_matches_numpy_assignment(spark):
    """q7k invariants: populations partition the corpus, share sums to 1,
    balance = share x populated-cell count, and the per-cell counts match
    an independent numpy argmin assignment (same seeds, L2, tie by cell
    index)."""
    import numpy as np
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark.operators.similarity import _N_CELLS, seed_ids
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q7k_cell_balance"](spark, SF_SMOKE).collect()
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    assert sum(r.n_vecs for r in rows) == len(emb)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    n_cells = len(rows)
    for r in rows:
        assert abs(r.balance - r.share * n_cells) < 1e-9, r
    by_id = {e.vec_id: np.asarray(e.embedding, dtype=np.float64) for e in emb}
    cents = [(k, by_id[v]) for k, v in enumerate(seed_ids(_N_CELLS)) if v in by_id]
    counts: dict = {}
    for e in emb:
        v = np.asarray(e.embedding, dtype=np.float64)
        best = min(cents, key=lambda kc: (float(np.sum((v - kc[1]) ** 2)), kc[0]))
        counts[best[0]] = counts.get(best[0], 0) + 1
    assert {r.cell: r.n_vecs for r in rows} == counts


def test_clustering_depth_manifest_closes(spark):
    """q9j invariants: the 64-file manifest partitions the table, ranges
    are well-formed, overlap counts are bounded and symmetric in total
    (a overlaps b iff b overlaps a), and a write order sorted on the
    stat column would drive depth down (sanity: the orderkey-ordered
    layout here must overlap MORE than a shipdate-sorted one)."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q9j_clustering_depth"](spark, SF_SMOKE).collect()
    li_n = load_table(spark, SF_SMOKE, "lineitem").count()
    assert sum(r.n_rows for r in rows) == li_n
    n_files = len(rows)
    total_overlaps = 0
    for r in rows:
        assert r.d_min <= r.d_max, r
        assert 0 <= r.n_overlaps <= n_files - 1, r
        total_overlaps += r.n_overlaps
    assert total_overlaps % 2 == 0  # pairwise symmetry
    # independent recompute of overlap counts from the emitted ranges
    rngs = [(r.file_id, r.d_min, r.d_max) for r in rows]
    for r in rows:
        n = sum(
            1
            for f, mn, mx in rngs
            if f != r.file_id and mn <= r.d_max and r.d_min <= mx
        )
        assert n == r.n_overlaps, r


def test_stream_anomaly_alerts_equal_batch_counts(spark):
    """q4zc x q4zb equivalence: the streamed alert feed, grouped by
    slot, must reproduce q4zb's n_anom exactly on every slot that has a
    baseline — the batch==streaming contract applied to the monitor."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    alerts = registry.queries()["q4zc_stream_anomaly_alerts"](
        spark, SF_SMOKE
    ).collect()
    batch = registry.queries()["q4zb_seasonal_baseline"](
        spark, SF_SMOKE
    ).collect()
    streamed: dict = {}
    for a in alerts:
        key = (a.event_type, a.dow, a.hr)
        streamed[key] = streamed.get(key, 0) + 1
    for b in batch:
        key = (b.event_type, b.dow, b.hr)
        if b.n_base > 0:
            assert streamed.get(key, 0) == b.n_anom, (key, b.n_anom)
        else:
            assert key not in streamed, key


def test_vacuum_plan_agrees_with_dv_accounting(spark):
    """q9k invariants: the vacuum ledger's per-file physical/dead/live
    rows must equal q9g's deletion-vector accounting file for file (same
    layout, same two DELETE commits), the rewrite/eligibility flags must
    follow their integer definitions, and the reclaimable total must be
    the sum of eligible files' rows."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.operators.layout import (
        _VACUUM_RETENTION_COMMIT,
    )

    vac = {r.file_id: r for r in registry.queries()["q9k_vacuum_plan"](
        spark, SF_SMOKE
    ).collect()}
    dv = {r.file_id: r for r in registry.queries()["q9g_deletion_vectors"](
        spark, SF_SMOKE
    ).collect()}
    assert set(vac) == set(dv)
    expected_reclaim = 0
    for fid, r in vac.items():
        g = dv[fid]
        assert (r.n_rows, r.dv_count, r.live_rows) == (
            g.file_rows,
            g.dv_count,
            g.live_rows,
        ), fid
        assert r.rewritten == (1 if 10 * r.dv_count > 3 * r.n_rows else 0)
        want_elig = (
            1
            if r.rewritten == 1 and fid % 8 < _VACUUM_RETENTION_COMMIT
            else 0
        )
        assert r.vacuum_eligible == want_elig, fid
        if want_elig:
            expected_reclaim += r.n_rows
    totals = {r.reclaimable_rows_total for r in vac.values()}
    assert totals == {expected_reclaim}


def test_cumulative_share_closes_to_totals(spark):
    """q29 invariants: per-region running cents are monotone and close
    to the region total, the global frame closes to the global total,
    shares stay in (0, 1], and an independent recompute of the running
    sums from the emitted monthly cents agrees exactly."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q29_cumulative_share"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    rows.sort(key=lambda r: (r.month, r.region))
    run_global, run_region = 0, {}
    for r in rows:
        run_global += r.cents
        run_region[r.region] = run_region.get(r.region, 0) + r.cents
        assert r.cum_global_cents == run_global, r
        assert r.cum_cents == run_region[r.region], r
        assert 0.0 < r.cum_share <= 1.0, r
        assert r.cum_share == r.cum_cents / r.cum_global_cents, r
    totals_by_region: dict = {}
    for r in rows:
        totals_by_region[r.region] = max(
            totals_by_region.get(r.region, 0), r.cum_cents
        )
    assert sum(totals_by_region.values()) == run_global


def test_user_growth_curve_closes(spark):
    """q4zd invariants: new-user counts partition the user set (sum ==
    distinct users == final cumulative), actives never exceed the
    cumulative registered count on any day, and the curve recomputes
    exactly from the raw events."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark import registry

    rows = registry.queries()["q4zd_user_growth"](spark, SF_SMOKE).collect()
    assert rows
    rows.sort(key=lambda r: r.day)
    ev = load_table(spark, SF_SMOKE, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.new_users for r in rows) == n_users
    assert rows[-1].cum_users == n_users
    run = 0
    for r in rows:
        run += r.new_users
        assert r.cum_users == run, r
        assert 1 <= r.active_users <= r.cum_users, r
        assert r.active_share == r.active_users / r.cum_users, r


def test_corpus_health_agrees_with_component_queries(spark):
    """qt5 invariants: the scorecard must agree with the component
    queries it composes — quality pass counts with q51's per-doc gate,
    exact-dup accounting with q60's distinct-text groups — and every
    rate must be its count ratio exactly."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark import registry

    rows = {r.source: r for r in registry.queries()["qt5_corpus_health"](
        spark, SF_SMOKE
    ).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    q51 = {r.doc_id: r.is_quality for r in registry.queries()[
        "q51_quality_score"
    ](spark, SF_SMOKE).collect()}
    by_src: dict = {}
    for d in docs:
        by_src.setdefault(d.source, []).append(d)
    assert set(rows) == set(by_src)
    for src, ds in by_src.items():
        r = rows[src]
        assert r.n_docs == len(ds)
        assert r.total_chars == sum(d.n_chars for d in ds)
        assert r.n_distinct_texts == len({d.text for d in ds})
        assert r.n_quality == sum(q51[d.doc_id] for d in ds), src
        assert r.quality_rate == r.n_quality / r.n_docs
        assert r.exact_dup_rate == (r.n_docs - r.n_distinct_texts) / r.n_docs
        assert r.mean_chars == r.total_chars / r.n_docs


def test_native_stat_kernels_match_moment_formulas(spark):
    """q1j computes stddev/var/corr/covar from exact decimal moments (the
    sf10 sweep caught native-kernel merge-order noise straddling the old
    6dp rounding device). Spark's NATIVE kernels must agree with those
    moment formulas to float tolerance — this keeps the built-in
    aggregate surface evidenced while the oracle row stays bit-exact."""
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark.catalog import load_table
    from tf_datapipeline_spark import registry

    moment = {r.c_mktsegment: r for r in registry.queries()[
        "q1j_stats_kernel"
    ](spark, SF_SMOKE).collect()}
    c = load_table(spark, SF_SMOKE, "customer")
    key_d = F.col("c_custkey").cast("double")
    native = {r.c_mktsegment: r for r in c.groupBy("c_mktsegment").agg(
        F.stddev_samp("c_acctbal").alias("sd"),
        F.var_samp("c_acctbal").alias("var"),
        F.corr(F.col("c_acctbal"), key_d).alias("corr"),
        F.covar_samp(F.col("c_acctbal"), key_d).alias("covar"),
    ).collect()}
    assert set(moment) == set(native)
    for seg, m in moment.items():
        nv = native[seg]
        assert abs(m.sd_bal - nv.sd) <= 1e-9 * abs(nv.sd), seg
        assert abs(m.var_bal - nv.var) <= 1e-9 * abs(nv.var), seg
        assert abs(m.corr_bal_key - nv.corr) <= 1e-6 + 1e-6 * abs(nv.corr), seg
        assert abs(m.covar_bal_key - nv.covar) <= 1e-9 * abs(nv.covar), seg


def test_media_audit_agrees_with_sniff_and_probe(spark):
    """q8n invariants: the audit's per-format doc and sniff counts must
    equal q8e's over the same mixed corpus, every payload must decode
    (n_decode_ok == n_docs — a codec or plumbing break shows here), and
    pixel volume must match the generative dims rules."""
    from tests.conftest import SF_SMOKE
    from tf_datapipeline_spark import registry
    from tf_datapipeline_spark.sources.images import synthetic_jpeg_dims

    audit = {r.image_format: r for r in registry.queries()[
        "q8n_media_audit"
    ](spark, SF_SMOKE).collect()}
    sniff = {r.image_format: r for r in registry.queries()[
        "q8e_format_sniff"
    ](spark, SF_SMOKE).collect()}
    assert set(audit) == set(sniff) == {"ppm", "png", "jpeg"}
    from tf_datapipeline_spark.catalog import load_table

    doc_ids = [
        r.doc_id
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id")
        .collect()
    ]
    want_pix = {"ppm": 0, "png": 0, "jpeg": 0}
    for d in doc_ids:
        fmt = ("ppm", "png", "jpeg")[d % 3]
        if fmt == "jpeg":
            h, w = synthetic_jpeg_dims(d)
        else:
            h, w = 8 + (d * 7919) % 25, 8 + (d * 104729) % 25
        want_pix[fmt] += 3 * h * w
    for fmt, r in audit.items():
        s = sniff[fmt]
        assert r.n_docs == s.n_docs and r.n_sniff_match == s.n_sniff_match
        assert r.n_decode_ok == r.n_docs, fmt
        assert r.total_pixels == want_pix[fmt], fmt


def test_double_to_int_cast_semantics_differ_across_engines(spark):
    """Pin the engine trap behind q2d's index arithmetic:
    DuckDB's double->int CAST ROUNDS (1.5 -> 2) while Spark's TRUNCATES
    (1.5 -> 1) — so any shared SQL that casts a fractional quotient to
    INT silently diverges. The engine convention (q2d, the floor-device
    family): spell the intent with explicit FLOOR on both sides. This
    test exists so the trap stays documented-by-failure: if either
    engine changes semantics, it fires."""
    import duckdb

    got_spark = spark.sql(
        "SELECT CAST(3/2 AS INT) a, CAST(5/2 AS INT) b, CAST(-3/2 AS INT) c"
    ).collect()[0]
    assert (got_spark["a"], got_spark["b"], got_spark["c"]) == (1, 2, -1)
    con = duckdb.connect()
    a, b, c = con.execute(
        "SELECT CAST(3/2 AS INT), CAST(5/2 AS INT), CAST(-3/2 AS INT)"
    ).fetchone()
    con.close()
    assert (a, b, c) == (2, 2, -2)  # half-even ROUNDING, not truncation
