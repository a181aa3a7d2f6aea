"""The benchmark's workloads: their inputs, their items and the checks of
their outputs.

An item is one user-visible operation: a registry query built with
``QUERIES[name](spark, dir)`` and forced with the ``noop`` sink, or one
read of the sources followed by ``EtlPipeline.run``. Each call into a layer
of the engine is wrapped in a tracer span, which is a no-op in timed runs.
"""

from __future__ import annotations

import glob
import os
import time

import duckdb

import gen

# Sizes are fixed so every seed does about the same amount of work.
# About a ninth of the reference's 131,214 production orders: a pass then
# takes about 3 s, so a run's median is taken over several passes.
ETL_ORDERS = 15_000
ETL_PRODUCTS = 49_688  # the reference's full product dimension
# The two composites with the most construction jobs per second of the
# eleven the corpus users run; the benchmark's time budget holds no more.
# Both read only the ``documents`` table.
CORPUS_QUERIES = ["dedup_clusters", "forget_documents"]


class CorpusWorkload:
    """Corpus composites over the generated ``documents`` table, each
    checked once per run against its DuckDB ``ORACLE_SQL`` on the same
    file."""

    items = CORPUS_QUERIES
    # Passes not recorded after the cold pass: the driver's planning code is
    # still being JIT-compiled. In a two-minute run the warm passes took 6.7,
    # 5.2, then 4.5 s, and from there fell slowly to about 3 s.
    warmup_passes = 2

    def prepare(self, spark, tracer, work_dir: str, seed: int) -> dict:
        from scala_etl_test_spark.plans.queries import ORACLE_SQL, QUERIES

        self.spark, self.tracer = spark, tracer
        self.queries, self.oracle_sql = QUERIES, ORACLE_SQL
        self.data_dir = os.path.join(work_dir, "data")
        rows = gen.write_documents(self.data_dir, seed)
        self.con = _duckdb()
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.data_dir}/documents.parquet/*.parquet')"
        )
        return {"documents": rows, "bytes": _tree_bytes(self.data_dir)}

    def run(self, name: str, check: bool) -> dict:
        """Run one item; with ``check`` the result is collected and compared
        with the oracle instead of going to the ``noop`` sink."""
        from oracle_harness import compare

        from scala_etl_test_spark.caching import release_persisted

        out: dict = {}
        with self.tracer.span("plans.build"):
            df = self.queries[name](self.spark, self.data_dir)
        with self.tracer.span("operators.exec"):
            if check:
                res = compare(df, self.con, self.oracle_sql[name])
                out["check"] = {"ok": bool(res["value_match"]), "rows": res["rows_spark"],
                                "rows_oracle": res["rows_duck"]}
                if not res["value_match"]:
                    out["check"]["detail"] = repr(res.get("first_diffs", res))[:500]
                out["untimed_s"] = res["oracle_s"]
            else:
                df.write.mode("overwrite").format("noop").save()
        self.tracer.record_storage()
        with self.tracer.span("caching.release"):
            out["released"] = release_persisted()
            self.spark.catalog.clearCache()
        return out

    def close(self) -> None:
        self.con.close()


class EtlWorkload:
    """The reference pipeline: CSV orders and an API dimension in,
    ``products`` and ``clients`` parquet tables out."""

    items = ["etl_pipeline_run"]
    # Passes not recorded after the cold pass. In a one-minute run the warm
    # passes took 5.7, 5.1, 4.6, 3.9, then 3.4 to 3.8 s: the driver's
    # planning code is still being JIT-compiled (the JVM's CPU time per pass
    # fell from 13 s to 6 s over the first five).
    warmup_passes = 3

    def prepare(self, spark, tracer, work_dir: str, seed: int) -> dict:
        self.spark, self.tracer = spark, tracer
        self.inputs = gen.write_etl_inputs(os.path.join(work_dir, "etl"), seed, ETL_ORDERS, ETL_PRODUCTS)
        self.result_path = os.path.join(work_dir, "etl-out")
        return {"orders": ETL_ORDERS, "products": self.inputs["n_items"],
                "dimension": ETL_PRODUCTS, "bytes": _tree_bytes(os.path.join(work_dir, "etl"))}

    def run(self, name: str, check: bool) -> dict:
        from scala_etl_test_spark.caching import release_persisted
        from scala_etl_test_spark.plans.pipeline import EtlPipeline
        from scala_etl_test_spark.sources import read_orders_csv, read_product_details_api

        out: dict = {}
        with self.tracer.span("sources.read"):
            orders = read_orders_csv(self.spark, "file://" + self.inputs["csv_dir"])
            dim = read_product_details_api(self.spark, self.inputs["api_url"])
        with self.tracer.span("pipeline.run"):
            EtlPipeline(self.spark, result_path=self.result_path).run([orders], dim)
        self.tracer.record_storage()
        with self.tracer.span("caching.release"):
            out["released"] = release_persisted()
            self.spark.catalog.clearCache()
        out["files_written"] = len(glob.glob(os.path.join(self.result_path, "*", "*.parquet")))
        if check:
            start = time.perf_counter()
            failures = check_etl_outputs(self.result_path, self.inputs)
            out["check"] = {"ok": not failures, "failures": failures}
            out["untimed_s"] = time.perf_counter() - start
        return out

    def close(self) -> None:
        pass


def _duckdb() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # it draws on stdout
    con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
    return con


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


_EXPECTED_PRODUCTS = r"""
WITH ex AS (
    SELECT order_id, user_id, order_number, order_dow, order_hour_of_day AS h,
           days_since_prior_order AS d, unnest(string_split(order_detail, '~')) AS item
    FROM orders_valid
), t AS (
    SELECT order_id, user_id, order_number, order_dow,
           CASE WHEN h = 24 THEN 0 ELSE h END AS h,
           CAST(trunc(d) AS INTEGER) AS d,
           regexp_replace(string_split(item, '|')[1], '[^\x00-\x7F]', '', 'g') AS product,
           string_split(item, '|')[2] AS aisles,
           CAST(string_split(item, '|')[3] AS INTEGER) AS qty
    FROM ex
)
SELECT abs(order_id) AS order_id, abs(user_id) AS user_id, abs(order_number) AS order_number,
       abs(order_dow) AS order_dow, abs(h) AS order_hour_of_day, abs(d) AS days_since_prior_order,
       trim(product) AS product, trim(aisles) AS aisles, abs(qty) AS number_of_products,
       trim(dim.department) AS department
FROM t LEFT JOIN dim ON t.product = dim.product_name
"""

_COLUMNS = ("order_id, user_id, order_number, order_dow, order_hour_of_day, "
            "days_since_prior_order, product, aisles, number_of_products, department")


def check_etl_outputs(result_path: str, inputs: dict) -> list[str]:
    """Compare ``products`` with a DuckDB recomputation (explode, left join,
    validate) from the well-formed generated rows, and check ``clients``
    against the FIXTURES.md A4 invariants. Returns the failed checks."""
    from scala_etl_test_spark.operators.category import MOM_ITEMS, PET_FRIENDLY_ITEMS, SINGLE_ITEMS

    con = _duckdb()
    try:
        con.register("orders_valid", inputs["orders"])
        con.register("dim", inputs["dimension"])
        con.execute(f"CREATE TABLE expected AS {_EXPECTED_PRODUCTS}")
        con.execute(f"CREATE VIEW products AS SELECT {_COLUMNS} FROM read_parquet('{result_path}/products/*.parquet')")
        con.execute(f"CREATE VIEW clients AS SELECT * FROM read_parquet('{result_path}/clients/*.parquet')")
        q = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
        in_list = lambda xs: ", ".join("'" + x + "'" for x in xs)  # noqa: E731
        checks = {
            "products row count = sum of items per well-formed order":
                f"SELECT count(*) = {inputs['n_items']} FROM products",
            "products equal the recomputation":
                "SELECT (SELECT count(*) FROM (SELECT * FROM products EXCEPT ALL SELECT * FROM expected)) = 0"
                " AND (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM products)) = 0",
            "no negative numerics, hours in [0, 23]":
                "SELECT count(*) = 0 FROM products WHERE order_hour_of_day NOT BETWEEN 0 AND 23"
                " OR days_since_prior_order < 0 OR number_of_products < 0 OR order_number < 0",
            "strings trimmed":
                "SELECT count(*) = 0 FROM products WHERE product <> trim(product) OR aisles <> trim(aisles)",
            "one clients row per user":
                "SELECT (SELECT count(*) FROM clients) = (SELECT count(DISTINCT user_id) FROM products)"
                " AND (SELECT count(DISTINCT user_id) FROM clients) = (SELECT count(*) FROM clients)",
            "category follows Mom > Single > Pet Friendly with integer division":
                f"""WITH u AS (SELECT user_id, sum(number_of_products) AS total,
                       sum(CASE WHEN department IN ({in_list(MOM_ITEMS)}) THEN number_of_products ELSE 0 END) AS mom,
                       sum(CASE WHEN department IN ({in_list(SINGLE_ITEMS)}) THEN number_of_products ELSE 0 END) AS single,
                       sum(CASE WHEN department IN ({in_list(PET_FRIENDLY_ITEMS)}) THEN number_of_products ELSE 0 END) AS pet
                     FROM products GROUP BY user_id)
                   SELECT count(*) = 0 FROM u JOIN clients c USING (user_id)
                   WHERE c.category IS DISTINCT FROM CASE
                       WHEN total <> 0 AND mom // total > 0.5 THEN 'Mom'
                       WHEN total <> 0 AND single // total > 0.6 THEN 'Single'
                       WHEN total <> 0 AND pet // total > 0.3 THEN 'Pet Friendly'
                       ELSE 'A complete mystery' END""",
            # Exact percentiles of line-item quantity per order_dow (Spark's
            # exact percentile_approx is DuckDB's quantile_disc) against the
            # user's total, on the user's last order; {8, 9, 20} is Undefined.
            "segment follows the per-dow quartiles on the user's last order":
                """WITH q AS (SELECT order_dow, quantile_disc(number_of_products, 0.25) AS q1,
                                     quantile_disc(number_of_products, 0.5) AS q2,
                                     quantile_disc(number_of_products, 0.75) AS q3
                              FROM products GROUP BY order_dow),
                        total AS (SELECT user_id, sum(number_of_products) AS total FROM products GROUP BY user_id),
                        last AS (SELECT user_id, order_dow, days_since_prior_order AS d FROM products
                                 QUALIFY row_number() OVER (PARTITION BY user_id
                                                            ORDER BY order_number DESC, order_id DESC) = 1)
                   SELECT count(*) = 0 FROM last JOIN total USING (user_id) JOIN q USING (order_dow)
                       JOIN clients c USING (user_id)
                   WHERE c.client_segment IS DISTINCT FROM CASE
                       WHEN d <= 7 AND total > q3 THEN 'You''ve Got a Friend in Me'
                       WHEN d BETWEEN 10 AND 19 AND total > q2 THEN 'Baby come Back'
                       WHEN d > 20 AND total > q1 THEN 'Special Offers'
                       ELSE 'Undefined' END""",
        }
        return [name for name, sql in checks.items() if not q(sql)]
    finally:
        con.close()


WORKLOADS = {
    "corpus": CorpusWorkload,
    "etl_pipeline": EtlWorkload,
}
