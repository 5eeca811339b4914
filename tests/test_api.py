"""API facade tests: the drop-in endpoint layer returns JSON-ready
shapes matching the reference's response contracts."""

from __future__ import annotations

import shutil
from urllib.parse import urlparse

import pytest

from hive_hdfs_practise_spark.api import MovieShopAPI
from hive_hdfs_practise_spark.operators import relational as rel
from hive_hdfs_practise_spark.operators.write import build_order_row
from hive_hdfs_practise_spark.schemas import ORDER_SCHEMA

DB = "api_test"
# user input with every character a SQL text or LIKE pattern could
# mangle: quotes, backslash, a parameter marker, wildcards, CJK
TRICKY_NAME = "It's a \\ \"test\" :movie_id %_ 活着"


@pytest.fixture()
def api(spark, movie_df, review_df, order_df):
    return MovieShopAPI(spark, movie_df, review_df, order_df)


class TestApi:
    def test_movie_list_shape(self, api):
        rows = api.query_movie_list(limitation=2)
        assert len(rows) == 2
        assert set(rows[0]) == {"movie_id", "name", "price", "ranking", "information"}

    def test_movie_detail_with_reviews(self, api):
        m = api.query_movie(1299731)
        assert m["movie_id"] == 1299731
        assert [r["review_id"] for r in m["reviews"]] == [1, 2]
        assert m["information_parsed"]["title"] == "肖申克的救赎"

    def test_missing_movie_none(self, api):
        assert api.query_movie(999) is None

    def test_order_list_time_filter(self, api):
        rows = api.query_order_list(time_limitation="2016-%-%")
        assert [r["order_id"] for r in rows] == [3, 2]

    def test_insert_then_visible(self, api):
        api.insert_order(
            {"movie_id": 2133323, "movie_name": "活着 To Live", "movie_num": 2, "price_sum": 110.0}
        )
        rows = api.query_order_list(limitation=1)
        assert rows[0]["order_id"] == 7

    def test_recommend_excludes_null(self, api):
        ids = [r["movie_id"] for r in api.recommend_movie_list()]
        assert 3000001 not in ids

    def test_dashboard_totals(self, api):
        yearly = {r["year"]: r["total_sales"] for r in api.yearly_sales()}
        assert round(sum(yearly.values()), 1) == 620.5


@pytest.fixture()
def managed(spark, movie_df, review_df, order_df):
    """The fixture tables saved as managed parquet tables, dropped
    after the test."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    loc = (
        spark.sql(f"DESCRIBE DATABASE {DB}")
        .filter("info_name = 'Location'")
        .head()
        .info_value
    )
    tables = {"movie": movie_df, "review": review_df, "order_info": order_df}
    for t, df in tables.items():
        spark.sql(f"DROP TABLE IF EXISTS {DB}.{t}")
        # a crashed earlier run can leave the table's directory behind
        shutil.rmtree(f"{urlparse(loc).path}/{t}", ignore_errors=True)
        df.write.format("parquet").saveAsTable(f"{DB}.{t}")
    yield {t: spark.table(f"{DB}.{t}") for t in tables}
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {DB}.{t}")


class TestManagedTableInsert:
    def test_insert_appends_to_table(self, spark, managed):
        api = MovieShopAPI(
            spark, managed["movie"], managed["review"], managed["order_info"],
            order_table=f"{DB}.order_info",
        )
        items = [
            {"movie_id": 2133323, "movie_name": TRICKY_NAME, "movie_num": 2, "price_sum": 110.04},
            {"movie_id": 1299731, "movie_name": TRICKY_NAME, "movie_num": 1, "price_sum": 27.46},
        ]
        for want_id, item in zip((7, 8), items):
            api.insert_order(item)
            assert api.query_order_list(limitation=1)[0]["order_id"] == want_id
        new = api.query_order_list(limitation=2)
        assert [r["order_id"] for r in new] == [8, 7]
        assert [r["movie_name"] for r in new] == [TRICKY_NAME, TRICKY_NAME]
        assert [r["price_sum"] for r in new] == [27.5, 110.0]
        assert spark.table(f"{DB}.order_info").count() == 8
        monthly = sum(r["total_sales"] for r in api.monthly_sales())
        assert round(monthly, 1) == 620.5 + 110.0 + 27.5


class TestServingPlans:
    """Serving plans over managed tables stay inside the JVM: no RDD
    scan (a Python-built RDD runs Python worker tasks per request) and
    no Python UDF evaluation."""

    ENDPOINTS = {
        "build_order_row": lambda s, t: build_order_row(
            s, t["order_info"],
            {"movie_id": 1, "movie_name": TRICKY_NAME, "movie_num": 1, "price_sum": 1.0},
        ),
        "query_movie_list": lambda s, t: rel.query_movie_list(t["movie"], 0, 200, "活"),
        "query_movie": lambda s, t: rel.query_movie(t["movie"], t["review"], 1299731),
        "query_order_list": lambda s, t: rel.query_order_list(t["order_info"], 0, 10, "2016-%"),
        "recommend_movie_list": lambda s, t: rel.recommend_movie_list(t["movie"], 0, 15),
        "monthly_sales": lambda s, t: rel.monthly_sales(t["order_info"]),
        "yearly_sales": lambda s, t: rel.yearly_sales(t["order_info"]),
    }

    @pytest.mark.parametrize("endpoint", list(ENDPOINTS))
    def test_no_rdd_scan(self, spark, managed, endpoint):
        df = self.ENDPOINTS[endpoint](spark, managed)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for node in ("LogicalRDD", "ExternalRDD", "EvalPython"):
            assert node not in plan, (endpoint, plan)

    def test_order_row_matches_schema(self, spark, managed):
        row = self.ENDPOINTS["build_order_row"](spark, managed)
        # bound literals are non-null, so nullability is not compared
        assert [(f.name, f.dataType) for f in row.schema] == [
            (f.name, f.dataType) for f in ORDER_SCHEMA
        ]
