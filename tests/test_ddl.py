"""DDL emitter tests — golden strings, mirroring the reference's
tests/test_open_csv_serde_table_creator.py style, plus execution
against the session catalog."""

from pyspark.sql import types as T

from spectrify_spark.catalog.ddl import (
    add_partition_ddl,
    columns_ddl,
    create,
    csv_table_ddl,
    parquet_table_ddl,
    sanitize_table_name,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.DecimalType(12, 2)),
    ]
)


def test_columns_ddl_double_to_float():
    ddl = columns_ddl(SCHEMA)
    assert "id BIGINT" in ddl
    # Spark SQL's FLOAT is 4-byte: the reference's DOUBLE->FLOAT
    # substitution (create.py:11-13) would make every scan of the
    # column fail, so DOUBLE stays DOUBLE
    assert "price DOUBLE" in ddl
    assert "amount DECIMAL(12,2)" in ddl


def test_sanitize_dots():
    assert sanitize_table_name("myschema.mytable") == "myschema_mytable"


def test_parquet_table_ddl_golden():
    ddl = parquet_table_ddl("sales.daily", SCHEMA, "/data/spectrum/daily")
    assert ddl == (
        "CREATE TABLE IF NOT EXISTS sales_daily (\n"
        "  id BIGINT,\n  price DOUBLE,\n  name VARCHAR(65535),\n  amount DECIMAL(12,2)\n)\n"
        "USING PARQUET\n"
        "LOCATION '/data/spectrum/daily'"
    )


def test_csv_table_ddl_has_unload_conventions():
    ddl = csv_table_ddl("t", SCHEMA, "/data/csv")
    assert "USING CSV" in ddl
    assert "sep '|'" in ddl
    assert "compression 'gzip'" in ddl


def test_add_partition_ddl_golden():
    ddl = add_partition_ddl("t", {"event_date": "2024-01-01"}, "/data/p/2024-01-01")
    assert ddl == (
        "ALTER TABLE t ADD IF NOT EXISTS PARTITION (event_date='2024-01-01') "
        "LOCATION '/data/p/2024-01-01'"
    )


def test_create_executes_and_is_queryable(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    path = str(tmp_path / "ext")
    df.write.parquet(path)
    ddl = parquet_table_ddl("ext_t", df.schema, path)
    create(spark, ddl)
    try:
        assert spark.sql("SELECT count(*) c FROM ext_t").collect()[0].c == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_t")


def test_create_sums_a_double_column(spark, tmp_path):
    """A DOUBLE parquet column registered through ``create`` scans as
    DOUBLE: with a FLOAT column type every scan of it fails with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    df = spark.createDataFrame([(1, 1.5), (2, 2.5), (3, 4.0)], schema)
    path = str(tmp_path / "dbl")
    df.write.parquet(path)
    create(spark, parquet_table_ddl("dbl_t", schema, path))
    try:
        assert spark.sql("SELECT sum(x) s FROM dbl_t").collect()[0].s == 8.0
    finally:
        spark.sql("DROP TABLE IF EXISTS dbl_t")


def test_partitioned_transform_roundtrip(spark, tmp_path):
    """transform() on partitioned data: table must be queryable (partition
    recovery) and partition-pruned."""
    from spectrify_spark.transform import transform

    df = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B")], ["id", "grp"]
    )
    try:
        transform(spark, df, "part_t", str(tmp_path / "pt"), partition_by=["grp"])
        got = spark.sql("SELECT grp, count(*) n FROM part_t GROUP BY grp").collect()
        assert {(r.grp, r.n) for r in got} == {("A", 2), ("B", 1)}
        plan = (
            spark.sql("SELECT * FROM part_t WHERE grp = 'A'")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS part_t")


def test_create_confirm_rejection(spark):
    import pytest

    with pytest.raises(RuntimeError, match="not confirmed"):
        create(spark, "SELECT 1", confirm=lambda _ddl: False)


def test_cli_create_table_confirm_paths(spark, tmp_path, monkeypatch, capsys):
    """CLI confirm wiring (reference create.py:72-73): without --yes a
    'n' reply refuses (exit 1, no table); a 'y' reply and --yes both
    create the table."""
    from spectrify_spark import cli

    loc = str(tmp_path / "pq")
    spark.range(3).withColumnRenamed("id", "k").write.parquet(loc)
    spark.sql("DROP TABLE IF EXISTS cli_confirm_t")
    try:
        monkeypatch.setattr("builtins.input", lambda *_: "n")
        assert cli.main(["create-table", "cli_confirm_t", loc]) == 1
        assert not spark.catalog.tableExists("cli_confirm_t")
        capsys.readouterr()

        monkeypatch.setattr("builtins.input", lambda *_: "y")
        assert cli.main(["create-table", "cli_confirm_t", loc]) == 0
        assert spark.catalog.tableExists("cli_confirm_t")
        spark.sql("DROP TABLE cli_confirm_t")

        # --yes: no prompt at all (input would raise if called)
        def boom(*_):
            raise AssertionError("input() called despite --yes")

        monkeypatch.setattr("builtins.input", boom)
        assert cli.main(["create-table", "cli_confirm_t", loc, "--yes"]) == 0
        assert spark.catalog.tableExists("cli_confirm_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_confirm_t")
