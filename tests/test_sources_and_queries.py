from pyspark.sql import functions as F

from hybridbackend_spark.schema import Field
from hybridbackend_spark.sources import read_parquet


def test_read_parquet_projection(spark, sf_dir):
    df = read_parquet(
        spark,
        f"{sf_dir}/lineitem.parquet",
        fields=[Field("l_orderkey", "int64"), Field("l_quantity", "float64")],
    )
    assert df.columns == ["l_orderkey", "l_quantity"]
    assert df.count() > 0


def test_read_parquet_default_population(spark, sf_dir):
    df = read_parquet(
        spark,
        f"{sf_dir}/lineitem.parquet",
        fields=[
            Field("l_orderkey", "int64"),
            Field("extra_col", "float64", default_value=1.5),
        ],
    )
    assert df.select("extra_col").first()[0] == 1.5


def test_read_parquet_to_dense_from_shape(spark, sf_dir):
    # to_dense=True pads ragged columns to the field's declared fixed shape
    df = read_parquet(
        spark,
        f"{sf_dir}/embeddings.parquet",
        fields=[Field("vec_id", "int64"), Field("embedding", "float32", shape=(80,))],
        to_dense=True,
    )
    lens = df.selectExpr("size(embedding) as n").distinct().collect()
    assert [r["n"] for r in lens] == [80]


def test_read_parquet_to_dense_string_fill(spark, tmp_path):
    # string-array fields pad with "" (dtype-derived fill), not int 0
    p = str(tmp_path / "s.parquet")
    spark.createDataFrame([(1, ["a"]), (2, ["b", "c", "d"])], "id: long, xs: array<string>").write.parquet(p)
    df = read_parquet(
        spark,
        p,
        fields=[Field("id", "int64"), Field("xs", "string", ragged_rank=1)],
        to_dense={"xs": 3},
    )
    got = {r["id"]: r["xs"] for r in df.collect()}
    assert got[1] == ["a", "", ""] and got[2] == ["b", "c", "d"]


def test_read_parquet_ignore_case(spark, sf_dir):
    df = read_parquet(
        spark,
        f"{sf_dir}/lineitem.parquet",
        fields=[Field("L_ORDERKEY", "int64")],
        field_ignore_case=True,
    )
    # file-side casing wins (reference lowercases the declared spec)
    assert df.columns == ["l_orderkey"]


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    names = set(e.queries())
    oracle_names = set(e.oracle_sql())
    assert oracle_names <= names
    assert len(names) >= 20


def test_projection_pushdown_plan(spark, sf_dir):
    """Scale check: projection must prune the parquet ReadSchema."""
    df = read_parquet(
        spark,
        f"{sf_dir}/lineitem.parquet",
        fields=[Field("l_orderkey", "int64")],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_quantity" not in plan


def test_nested_ragged_rank2_read_and_roundtrip(spark, tmp_path):
    # reference parity: list<list<int64>> scan + roundtrip
    # (parquet_dataset_ragged_nested_test.py:43-75)
    import pytest

    from hybridbackend_spark.queries import _NESTED_FIXTURE
    from hybridbackend_spark.schema import SchemaMismatchError
    from hybridbackend_spark.sources import read_tabular

    df = read_tabular(
        spark,
        _NESTED_FIXTURE,
        fields=[Field("id", "int64"), Field("matrix", "int64", ragged_rank=2)],
    )
    assert dict(df.dtypes)["matrix"] == "array<array<bigint>>"
    got = {r["id"]: r["matrix"] for r in df.filter("id in (0, 3)").collect()}
    assert got[0] == []
    assert got[3] == [[300, 301, 302], [], [320]]

    # declared rank must match the file
    with pytest.raises(SchemaMismatchError):
        read_tabular(
            spark, _NESTED_FIXTURE, fields=[Field("matrix", "int64", ragged_rank=1)]
        )

    # spark-write -> read roundtrip preserves the nested values
    out = str(tmp_path / "nested_rt.parquet")
    df.write.parquet(out)
    back = {r["id"]: r["matrix"] for r in spark.read.parquet(out).collect()}
    assert back == {r["id"]: r["matrix"] for r in df.collect()}


def test_skip_corrupted_data(spark, tmp_path):
    # S3: one good file + one truncated file in a directory; with
    # skip_corrupted_data=True the good rows survive, without it the scan
    # errors (reference retry loop, data/tabular/dataset.cc:263-268)
    import shutil

    import pytest

    d = tmp_path / "mixed"
    d.mkdir()
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(str(d / "good"))
    good = next((d / "good").glob("part-*.parquet"))
    shutil.copy(good, d / "a_good.parquet")
    raw = good.read_bytes()
    (d / "b_corrupt.parquet").write_bytes(raw[: len(raw) // 2])
    shutil.rmtree(d / "good")

    from hybridbackend_spark.sources import read_parquet

    ok = read_parquet(spark, str(d), skip_corrupted_data=True)
    assert ok.count() == 100

    with pytest.raises(Exception):
        read_parquet(spark, str(d)).count()


def test_field_map_fn_renames(spark, sf_dir):
    # P2: transform the resolved field list before projection
    # (reference field_map_fn hook, data/tabular/table.py:83)
    from dataclasses import replace

    def upper_keys(fields):
        return [
            replace(f, name=f.name.upper()) if f.name == "l_orderkey" else f
            for f in fields
        ]

    df = read_parquet(
        spark,
        f"{sf_dir}/lineitem.parquet",
        fields=[Field("l_orderkey", "int64"), Field("l_quantity", "float64")],
        field_map_fn=upper_keys,
    )
    assert df.columns == ["L_ORDERKEY", "l_quantity"]
    # the renamed column carries the FILE data, not a null default
    plain = read_parquet(
        spark, f"{sf_dir}/lineitem.parquet", fields=[Field("l_orderkey", "int64")]
    )
    assert (
        df.agg(F.sum("L_ORDERKEY")).collect()[0][0]
        == plain.agg(F.sum("l_orderkey")).collect()[0][0]
    )


def test_multi_file_interleave(spark, sf_dir):
    # S6: a list of paths scans as one dataset (Spark's split planning
    # interleaves files natively)
    single = read_parquet(spark, f"{sf_dir}/region.parquet")
    double = read_parquet(
        spark, [f"{sf_dir}/region.parquet", f"{sf_dir}/region.parquet"]
    )
    assert double.count() == 2 * single.count()
    assert double.columns == single.columns


def test_merge_schema_across_heterogeneous_files(spark, tmp_path):
    # files written at different pipeline stages gain columns over time;
    # mergeSchema unions the schemas and older files read NULL for the
    # new columns (the scan-level analog of populate_defaults)
    from pyspark.sql import functions as F

    d = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id").alias("k")).write.parquet(f"{d}/old")
    spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("v2").alias("tag")
    ).write.parquet(f"{d}/new")
    df = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(d)
    assert set(df.columns) == {"k", "tag"}
    rows = {r["k"]: r["tag"] for r in df.collect()}
    assert rows[0] is None and rows[7] == "v2" and len(rows) == 8


def test_driver_window_priority_names_all_registered():
    from hybridbackend_spark.queries import (
        _DRIVER_WINDOW_FIRST,
        QUERIES,
        ORACLES,
        get_oracles,
        get_queries,
    )

    missing = [n for n in _DRIVER_WINDOW_FIRST if n not in QUERIES]
    assert not missing, f"priority names not registered: {missing}"
    assert len(_DRIVER_WINDOW_FIRST) == len(set(_DRIVER_WINDOW_FIRST))
    q = get_queries()
    assert list(q)[: len(_DRIVER_WINDOW_FIRST)] == _DRIVER_WINDOW_FIRST
    assert set(q) == set(QUERIES)  # reorder only, nothing lost
    assert set(get_oracles()) == set(ORACLES)


def test_read_jsonl_schema_and_quarantine(spark, tmp_path):
    from hybridbackend_spark.sources.tabular import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "second doc"}\n'
        'this line is not json at all\n'
        '{"doc_id": 4, "text": "after the bad line"}\n'
    )
    # persist: Spark disallows plans referencing ONLY the corrupt column
    # against raw JSON (see read_jsonl docstring)
    df = read_jsonl(
        spark, str(p), schema="doc_id long, text string",
        corrupt_column="_corrupt",
    ).persist()
    clean = df.filter("_corrupt is null")
    bad = df.filter("_corrupt is not null")
    assert clean.count() == 3 and bad.count() == 1
    assert {r["doc_id"] for r in clean.collect()} == {1, 2, 4}
    assert "not json" in bad.collect()[0]["_corrupt"]
    df.unpersist()
    # declared schema -> no inference pass; dtypes honored
    assert dict(df.dtypes)["doc_id"] == "bigint"


def test_read_jsonl_roundtrip_write(spark, tmp_path):
    from hybridbackend_spark.sources.tabular import read_jsonl

    src = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id: long, text: string"
    )
    out = str(tmp_path / "out")
    src.coalesce(1).write.mode("overwrite").json(out)
    back = read_jsonl(spark, out, schema="doc_id long, text string")
    assert sorted((r["doc_id"], r["text"]) for r in back.collect()) == [
        (1, "a"), (2, "b"),
    ]


def test_raw_sql_interface_matches_dataframe(spark, sf_dir):
    """Users can drive the engine in raw SQL: register_tables exposes the
    tables as views, and a hand-written Spark SQL text produces exactly
    the DataFrame API's rows (same Catalyst plans underneath)."""
    from hybridbackend_spark.queries import q1_pricing_summary
    from hybridbackend_spark.session import register_tables

    register_tables(spark, sf_dir, ["lineitem"])
    sql = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )
    df = q1_pricing_summary(spark, sf_dir).select(
        "l_returnflag", "l_linestatus", "sum_qty", "count_order"
    )
    got = {tuple(r) for r in sql.collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want and len(got) > 0


# --- the loader's per-session schema memo (sources.tabular._load) ---------


def _write_table(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def test_load_memo_second_load_submits_no_job(spark, sf_dir, jobs_of):
    from hybridbackend_spark.queries import _event_ts, _t

    for name in ("lineitem", "events"):
        _t(spark, sf_dir, name)
        df, jobs = jobs_of(f"memo_hit_{name}", lambda: _t(spark, sf_dir, name))
        assert jobs == []
        fresh = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            fresh = _event_ts(fresh)
        assert df.schema == fresh.schema


def test_load_memo_self_join_keeps_distinct_relations(spark, sf_dir):
    # two loads of one file must be two relations, or the join condition
    # compares a column with itself
    from hybridbackend_spark.queries import _t

    def pairs(a, b):
        return a.join(
            b,
            (a.l_orderkey == b.l_orderkey) & (a.l_linenumber < b.l_linenumber),
        ).count()

    path = f"{sf_dir}/lineitem.parquet"
    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert want > 0
    assert pairs(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "lineitem")) == want


def test_load_memo_sees_rewritten_file(spark, tmp_path, jobs_of):
    from hybridbackend_spark.sources.tabular import _load

    p = str(tmp_path / "t.parquet")
    _write_table(p, a=[1, 2, 3])
    assert _load(spark, p).columns == ["a"]
    df, jobs = jobs_of("memo_tmp_hit", lambda: _load(spark, p))
    assert jobs == [] and df.columns == ["a"]

    _write_table(p, a=[1, 2, 3], b=["x", "y", "z"])
    df = _load(spark, p)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_load_memo_bypasses_directories(spark, tmp_path, jobs_of):
    from hybridbackend_spark.sources.tabular import _FOOTERS, _load

    d = str(tmp_path / "dir")
    spark.range(3).write.parquet(d)
    _load(spark, d)
    df, jobs = jobs_of("memo_dir", lambda: _load(spark, d))
    assert jobs != [] and df.count() == 3
    assert not any(k.startswith(d) for k in _FOOTERS.get(spark, {}))


def test_read_tabular_fields_reads_footer_once(spark, tmp_path, monkeypatch):
    import pyarrow.dataset as pads

    from hybridbackend_spark.sources import read_tabular

    p = str(tmp_path / "f.parquet")
    _write_table(p, id=[1, 2], v=[0.5, 1.5])
    calls = []
    real = pads.dataset
    monkeypatch.setattr(pads, "dataset", lambda *a, **k: calls.append(a) or real(*a, **k))
    for _ in range(2):
        df = read_tabular(spark, p, fields=[Field("id", "int64"), Field("v", "float64")])
        assert df.columns == ["id", "v"]
    assert len(calls) == 1


def test_i2i_state_rebuilt_when_table_rewritten(spark, tmp_path):
    from hybridbackend_spark.queries import _I2I_CACHE, _i2i_state_cached

    d = str(tmp_path)
    _write_table(f"{d}/lineitem.parquet", l_orderkey=[1, 1, 2, 3], l_partkey=[10, 11, 10, 12])
    _write_table(f"{d}/orders.parquet", o_orderkey=[1, 2, 3], o_custkey=[100, 101, 101])
    ui, sim = _i2i_state_cached(spark, d)
    assert _i2i_state_cached(spark, d)[0] is ui
    assert ui.is_cached and sim.is_cached
    assert {tuple(r) for r in ui.collect()} == {(100, 10), (100, 11), (101, 10), (101, 12)}

    # same path, new content: every order now belongs to customer 100
    _write_table(f"{d}/orders.parquet", o_orderkey=[1, 2, 3], o_custkey=[100, 100, 100])
    try:
        ui2, sim2 = _i2i_state_cached(spark, d)
        assert ui2 is not ui and sim2 is not sim
        # is_cached is cleared by unpersist; storageLevel cannot tell the
        # pairs apart, the cache manager matches them by their equal plans
        assert not ui.is_cached and not sim.is_cached
        assert ui2.is_cached and sim2.is_cached
        assert {tuple(r) for r in ui2.collect()} == {(100, 10), (100, 11), (100, 12)}
    finally:
        for old in list(_I2I_CACHE):
            for df in _I2I_CACHE.pop(old):
                df.unpersist()
