"""S4 sinks + composed §1.4 output relations: write → read-back
round-trips and composition invariants on sf0.001. Every `*_output`
is a cached relation, so each test that builds one releases it."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from capstone_etl_spark.operators import outputs as out_ops
from capstone_etl_spark.session import release_caches
from capstone_etl_spark.sinks import read_back, write_json, write_outputs, write_parquet
from capstone_etl_spark.sinks.writers import write_collection

SF_DIR = "/root/testdata/sf0.001"


def _jobs(spark, tag: str, write) -> int:
    """Run `write()` under job tag `tag`; return how many jobs it ran."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        write()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return len(jsc.statusTracker().getJobIdsForTag(tag))


def test_sink_pass_composes_once(spark, tmp_path):
    """write_outputs writes each relation twice (parquet, then JSON).
    The first write fills the *_output cache; the second reads it back
    in one job instead of recomposing it, and writes the same rows.
    The job budget is counted on a second pass (the first warms the
    session): building wikibooks_output runs no job (documents has a
    declared schema) and the parquet write composes it in at most 11.
    Before the page relation carried its per-document scalar and the
    children were keyed by path, build / parquet / JSON read 1 / 15 / 1
    (an inference scan, a documents self-join and a second hierarchy
    inside the child aggregate)."""
    for i in range(2):
        try:
            built = []
            n_build = _jobs(
                spark, f"sink-budget-build-{i}",
                lambda: built.append(out_ops.wikibooks_output(spark, SF_DIR)),
            )
            (wb,) = built
            pq, js = str(tmp_path / f"wb{i}.parquet"), str(tmp_path / f"wb{i}.json")
            n_pq = _jobs(spark, f"sink-budget-parquet-{i}", lambda: write_parquet(wb, pq))
            n_js = _jobs(spark, f"sink-budget-json-{i}", lambda: write_collection(wb, js))
        finally:
            release_caches()
    assert (n_build, n_js) == (0, 1) and 1 <= n_pq <= 11, (n_build, n_pq, n_js)
    back_pq = read_back(spark, pq)
    back_js = spark.read.schema(back_pq.schema).json(js)
    # full-row multisets; repr makes the nested arrays hashable
    rows_pq = Counter(map(repr, back_pq.collect()))
    assert rows_pq and Counter(map(repr, back_js.collect())) == rows_pq


def test_declared_documents_schema_matches_footers(spark):
    """load_table reads documents with its declared schema, so it runs
    no job; the schema Spark infers from the testdata footers must be
    that schema."""
    from capstone_etl_spark.sources.tables import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        loaded = []
        load = lambda: loaded.append(load_table(spark, sf, "documents"))  # noqa: E731
        assert _jobs(spark, f"load-{sf}", load) == 0, sf
        inferred = spark.read.parquet(f"{sf}/documents.parquet").schema
        assert loaded[0].schema == inferred, sf


def test_wikibooks_output_composition(spark):
    try:
        wb = out_ops.wikibooks_output(spark, SF_DIR)
        rows = {r.doc_id: r for r in wb.collect()}
    finally:
        release_caches()
    docs_n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == docs_n                       # one document per page
    roots = [r for r in rows.values() if r.parent_page is None]
    kids = [r for r in rows.values() if r.parent_page is not None]
    assert roots and kids
    # child lists are consistent with parent links
    for r in kids:
        assert r.doc_id in rows[r.parent_page].child_pages
    # counts agree with the tokens array on the same row
    for r in rows.values():
        assert r.count_unique_words == len(r.tokens)
        assert r.n_tokens == sum(t.qty for t in r.tokens)


def test_parquet_roundtrip_all_outputs(spark, tmp_path):
    try:
        paths = write_outputs(spark, SF_DIR, str(tmp_path))
        assert set(paths) == {"wikibooks", "tokens", "token_vector"}
        for name, pq in paths.items():
            src = {
                "wikibooks": out_ops.wikibooks_output,
                "tokens": out_ops.tokens_output,
                "token_vector": out_ops.token_vector_output,
            }[name](spark, SF_DIR)
            back = read_back(spark, pq)
            # parquet read-back relaxes nullability (incl. nested) — compare
            # names + types via simpleString, which omits nullability
            assert back.schema.simpleString() == src.schema.simpleString(), name
            assert back.count() == src.count(), name
    finally:
        release_caches()


def test_json_roundtrip_tokens(spark, tmp_path):
    try:
        src = out_ops.tokens_output(spark, SF_DIR)
        path = str(tmp_path / "tokens_json")
        write_json(src, path)
        back = spark.read.json(path)
        assert back.count() == src.count()
        # spot-check one posting list survives the JSON round trip intact
        tok = src.orderBy("_id").first()
        got = back.filter(F.col("token") == tok.token).first()
    finally:
        release_caches()
    assert got._id == tok._id
    assert sorted((r.doc_id, r.qty) for r in got.references) == sorted(
        (r.doc_id, r.qty) for r in tok.references
    )


def test_partitioned_parquet_sink(spark, tmp_path):
    """partition_by lays out hive dirs → partition pruning on read-back."""
    try:
        wb = out_ops.wikibooks_output(spark, SF_DIR).withColumn(
            "is_root", F.col("parent_page").isNull()
        )
        path = str(tmp_path / "wb_part")
        write_parquet(wb, path, partition_by=["is_root"])
    finally:
        release_caches()
    pruned = read_back(spark, path).filter(F.col("is_root") == True)  # noqa: E712
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() > 0
    assert "PartitionFilters: [" in plan


def test_token_vector_dense_ids_are_permutation(spark):
    try:
        tv = out_ops.token_vector_output(spark, SF_DIR)
        ids = [r._id for r in tv.select("_id").collect()]
    finally:
        release_caches()
    assert sorted(ids) == list(range(len(ids)))


def test_bucketed_join_is_exchange_free(spark):
    """Bucketing both fact tables on the join key at write time removes
    the per-query shuffle: the sort-merge join reads co-located buckets
    directly (scan -> sort -> join, zero Exchange operators)."""
    from capstone_etl_spark.plans import exchange_count, executed_plan
    from capstone_etl_spark.sinks.writers import write_bucketed

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    write_bucketed(li, "b_lineitem", "l_orderkey", n_buckets=8)
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8)
    # compare shuffle joins: disable auto-broadcast (at test scale the
    # plain join would otherwise broadcast and hide its exchange)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        assert exchange_count(joined) == 0, executed_plan(joined)
        assert "SortMergeJoin" in executed_plan(joined)
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert exchange_count(plain) >= 2          # unbucketed pays the shuffle
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_document_store_seam_roundtrip_per_collection(spark, tmp_path):
    """The connector-shaped sink seam (VERDICT r4 item 6): each of the
    reference's three keyed collections (main.go:92-94) flows through
    write_collection → upsert_collection with the JSON fallback format —
    overwrite-style initial load, then a keyed delta that updates one
    document and inserts one, read back with the collection's fixed
    schema. Nested arrays/structs/maps survive the round trip."""
    from capstone_etl_spark.sinks.writers import COLLECTION_KEYS, upsert_collection

    try:
        rels = {
            "wikibooks": out_ops.wikibooks_output(spark, SF_DIR),
            "tokens": out_ops.tokens_output(spark, SF_DIR),
            "token_vector": out_ops.token_vector_output(spark, SF_DIR),
        }
        for name, df in rels.items():
            (key,) = COLLECTION_KEYS[name]
            base = str(tmp_path / name)
            full = df.limit(20).cache()
            write_collection(full, base, fmt="json")

            rows = full.collect()
            assert len(rows) > 1, name
            schema = full.schema
            update = spark.createDataFrame([rows[0]], schema)
            insert = spark.createDataFrame([rows[1]], schema).withColumn(
                key, F.col(key) + 1_000_000
            )
            delta = update.unionByName(insert)
            snap = upsert_collection(spark, base, delta, [key], fmt="json")

            got = spark.read.format("json").schema(schema).load(snap)
            assert got.count() == len(rows) + 1, name
            # the updated key appears exactly once; the insert landed
            assert got.filter(F.col(key) == rows[0][key]).count() == 1, name
            assert got.filter(F.col(key) == rows[1][key] + 1_000_000).count() == 1, name
            # base untouched (write-audit-swap)
            assert (
                spark.read.format("json").schema(schema).load(base).count() == len(rows)
            ), name
            full.unpersist()
    finally:
        release_caches()


def test_merge_upsert_last_write_wins(spark, tmp_path):
    from capstone_etl_spark.sinks.writers import merge_upsert

    base = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "id long, text string, ver int"
    ).write.parquet(base)
    delta = spark.createDataFrame(
        [(2, "b2", 2), (4, "d", 2)], "id long, text string, ver int"
    )
    snap = merge_upsert(spark, base, delta, keys=["id"])
    got = {r.id: (r.text, r.ver) for r in read_back(spark, snap).collect()}
    assert got == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 1), 4: ("d", 2)}
    # base snapshot untouched (write-audit-swap, never in-place)
    assert {r.id for r in read_back(spark, base).collect()} == {1, 2, 3}
