import pytest
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("seqspark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def events(spark):
    from seqspark.data import load_table

    return load_table(spark, SF_DIR, "events").cache()


@pytest.fixture(scope="session")
def documents(spark):
    from seqspark.data import load_table

    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="session")
def events_table(events):
    from seqspark import SearchTable

    return SearchTable.from_typed(
        events,
        {
            "event_type": "keyword",
            "user_id": "keyword",
            "value": "keyword",
            "props": "text",
            "event_id": "keyword",
        },
        ts_col="ts",
        rid_col="event_id",
    )


@pytest.fixture
def caps(monkeypatch):
    """Sets the aggregation guard limits: the module constants
    ``AGG_MAX_GROUP_TOKENS``/``AGG_MAX_FIELD_TOKENS``, which
    complex_search and aggregate read when they build a construction.
    The plan-cache key does not carry them, so every table touched is
    cleared on the way in and out."""
    from seqspark import engine

    group0, field0 = engine.AGG_MAX_GROUP_TOKENS, engine.AGG_MAX_FIELD_TOKENS
    tables = []

    def set_caps(st, group=group0, field=field0):
        monkeypatch.setattr(engine, "AGG_MAX_GROUP_TOKENS", group)
        monkeypatch.setattr(engine, "AGG_MAX_FIELD_TOKENS", field)
        st._plan_cache.clear()
        tables.append(st)

    yield set_caps
    monkeypatch.undo()
    for st in tables:
        st._plan_cache.clear()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con
