"""End-to-end tests of the Glamira warehouse DAG over synthetic raw data.

Three layers, mirroring the reference's test strategy (SURVEY.md §5)
plus a DuckDB differential check it lacks:
1. dbt-style constraint tests (unique/not_null) from schema.yml
2. audit metric sanity (null rates, orphan rates within expectations)
3. DuckDB replication of stg_order's hairiest semantics (double
   LEFT JOIN UNNEST WITH OFFSET + localized price parse) over the SAME
   generated parquet — full differential on the flattened line items.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glamira_batch_processing_spark.plans.checks import (
    check_accepted_values,
    check_not_null,
    check_unique,
)
from glamira_batch_processing_spark.plans.glamira import build_glamira_pipeline
from glamira_batch_processing_spark.sources.raw_generator import write_raw_tables

N_EVENTS = 8000


@pytest.fixture(scope="module")
def glamira(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("glamira")
    paths = write_raw_tables(spark, str(base / "raw"), n_events=N_EVENTS)
    p = build_glamira_pipeline(
        spark,
        raw_events=spark.read.parquet(paths["raw_events"]),
        raw_product=spark.read.parquet(paths["raw_product"]),
        raw_ip_locations=spark.read.parquet(paths["raw_ip_locations"]),
        workdir=str(base / "models"),
    )
    p.run()
    return p, paths


def test_stg_order_constraints(glamira):
    p, _ = glamira
    o = p.ref("stg_order")
    assert check_unique(o, "item_key") == 0
    assert check_not_null(o, ["order_id", "time_stamp", "event_ts", "store_id"]) == 0
    assert o.count() > 0
    # NULL carts are impossible here (every checkout has items), but NULL
    # option arrays must have survived the outer explode:
    assert o.filter(F.col("option_id").isNull()).count() > 0


def test_stg_customer_constraints(glamira):
    p, _ = glamira
    c = p.ref("stg_customer")
    assert check_unique(c, ["email_address", "user_db_id"]) == 0
    assert check_not_null(c, ["email_address", "user_db_id"]) == 0
    assert check_accepted_values(
        c, "has_email_multiple_user_ids", ["Unique", "Multiple"]
    ) == 0
    # generator maps emails (mod 400) across users (mod 500) -> multiples exist
    assert c.filter(F.col("has_email_multiple_user_ids") == "Multiple").count() > 0


def test_stg_product_constraints(glamira):
    p, _ = glamira
    pr = p.ref("stg_product")
    assert check_not_null(pr, ["product_key", "sku"]) == 0
    assert check_unique(pr, "product_id") == 0
    # unparsable weights became NULL via try_cast, not errors
    assert pr.filter(F.col("gold_weight").isNull()).count() > 0


def test_stg_location_constraints(glamira):
    p, _ = glamira
    loc = p.ref("stg_location")
    assert check_unique(loc, "ip") == 0
    assert check_not_null(loc, ["location_key", "ip"]) == 0
    dim = p.ref("mart_dim_location")
    assert check_unique(dim, "location_key") == 0


def test_mart_dims(glamira):
    p, _ = glamira
    dc = p.ref("mart_dim_customer")
    assert check_unique(dc, "user_db_id") == 0
    dd = p.ref("mart_dim_date")
    assert dd.count() == 13149  # 2015-01-01 .. 2050-12-31 (BASELINE.md)
    assert check_unique(dd, "date") == 0


def test_mart_fact_order(glamira):
    p, _ = glamira
    f = p.ref("mart_fact_order")
    assert check_unique(f, "item_key") == 0
    assert f.count() == p.ref("stg_order").count()
    # INFERRED rows exist (ambiguous $/kr + mapped TLD) and carry fx
    inferred = f.filter(F.col("currency_status") == "INFERRED")
    assert inferred.count() > 0
    assert inferred.filter(F.col("line_total_amount_usd").isNotNull()).count() > 0
    # UNKNOWN-currency rows have NULL usd amounts
    assert (
        f.filter(F.col("currency_code").isNull())
        .filter(F.col("line_total_amount_usd").isNotNull())
        .count()
        == 0
    )


def test_scd2_snapshot(glamira):
    p, _ = glamira
    scd = p.ref("customer_email_scd")
    assert check_not_null(scd, ["user_db_id", "email_address", "event_ts"]) == 0
    # rn=1 is unique per user (current marker, W3)
    current = scd.filter(F.col("rn") == 1)
    assert check_unique(current, "user_db_id") == 0


def test_qa_and_audit(glamira):
    p, _ = glamira
    qa = p.ref("int_order_qa")
    total = qa.count()
    valid = qa.filter(F.col("is_row_valid")).count()
    assert 0 < valid < total  # generator injects both clean and dirty rows
    nr = p.ref("audit_null_rates_stg_order").collect()[0]
    assert nr.rows_total == total
    assert 0 < nr.null_rate_user_db_id < 1
    orr = p.ref("audit_orphan_rates").collect()[0]
    assert orr.fact_rows == total
    assert 0 < orr.orphan_location_rate < 0.2  # ~2% orphan ips + specials
    assert orr.orphan_product_rate < 0.2


def test_stg_order_vs_duckdb(glamira, spark):
    """Differential: replicate stg_order's flatten+parse in DuckDB over
    the same parquet and compare the full flattened line-item set."""
    import duckdb

    p, paths = glamira
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW raw_events AS SELECT * FROM '{paths['raw_events']}/*.parquet'"
    )
    duck = con.sql(
        """
        WITH base AS (
          SELECT order_id, time_stamp, ip, cart_products
          FROM raw_events WHERE collection = 'checkout_success'
        ),
        li AS (
          SELECT order_id, time_stamp, ip,
                 generate_subscripts(cart_products, 1) - 1 AS cp_offset,
                 unnest(cart_products) AS cp
          FROM base WHERE cart_products IS NOT NULL
        ),
        flat AS (
          SELECT order_id, time_stamp, ip, cp_offset,
                 TRY_CAST(cp.product_id AS BIGINT) AS product_id,
                 TRY_CAST(cp.amount AS BIGINT) AS product_quantity,
                 cp.price AS price_raw,
                 cp.option AS opts
          FROM li
        ),
        with_opts AS (
          SELECT order_id, time_stamp, ip, cp_offset, product_id,
                 product_quantity, price_raw,
                 generate_subscripts(opts, 1) - 1 AS opt_offset,
                 unnest(opts) AS opt
          FROM flat WHERE opts IS NOT NULL AND len(opts) > 0
          UNION ALL
          SELECT order_id, time_stamp, ip, cp_offset, product_id,
                 product_quantity, price_raw, NULL, NULL
          FROM flat WHERE opts IS NULL OR len(opts) = 0
        )
        SELECT order_id, cp_offset, opt_offset,
               opt.option_id AS option_id,
               product_id, product_quantity,
               CAST(TRY_CAST(
                 trim(replace(
                   CASE
                     WHEN strpos(replace(price_raw, '٫', '.'), ',') > 0
                          AND strpos(replace(price_raw, '٫', '.'), '.') > 0 THEN
                       CASE WHEN strpos(replace(price_raw, '٫', '.'), ',')
                                 < strpos(replace(price_raw, '٫', '.'), '.')
                            THEN replace(replace(price_raw, '٫', '.'), ',', '')
                            ELSE replace(replace(replace(price_raw, '٫', '.'), '.', ''), ',', '.')
                       END
                     WHEN strpos(replace(price_raw, '٫', '.'), ',') > 0
                       THEN replace(replace(price_raw, '٫', '.'), ',', '.')
                     ELSE replace(price_raw, '٫', '.')
                   END, ' ', ''))
                 AS DECIMAL(38,9)) AS DOUBLE) AS product_price
        FROM with_opts
        """
    ).df()

    o = p.ref("stg_order").select(
        "order_id",
        "cp_offset",
        "opt_offset",
        "option_id",
        "product_id",
        "product_quantity",
        F.col("product_price").cast("double").alias("product_price"),
    )
    spdf = o.toPandas()

    def normset(pdf):
        cols = sorted(pdf.columns)
        return sorted(
            tuple("NULL" if v is None or v != v else repr(v) if isinstance(v, float) else str(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)
        )

    s, d = normset(spdf), normset(duck)
    assert len(s) == len(d), f"row counts differ: spark={len(s)} duck={len(d)}"
    assert s == d


def test_mart_fact_usd_vs_duckdb(glamira, spark):
    """End-to-end warehouse differential: USD revenue by currency_code
    from mart_fact_order vs a full DuckDB replication (flatten -> parse
    -> currency map -> TLD inference -> fx join -> USD) over the same
    raw parquet."""
    import duckdb
    from pyspark.sql import functions as F

    from glamira_batch_processing_spark.functions.currency import FX_SEED_ROWS

    p, paths = glamira
    fx_values = ",\n      ".join(
        f"('{code}', {rate!r})" for _, _, code, rate in FX_SEED_ROWS
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW raw_events AS SELECT * FROM '{paths['raw_events']}/*.parquet'"
    )
    parse = """
      TRY_CAST(trim(replace(
        CASE
          WHEN strpos(replace(cp.price, '٫', '.'), ',') > 0
               AND strpos(replace(cp.price, '٫', '.'), '.') > 0 THEN
            CASE WHEN strpos(replace(cp.price, '٫', '.'), ',')
                      < strpos(replace(cp.price, '٫', '.'), '.')
                 THEN replace(replace(cp.price, '٫', '.'), ',', '')
                 ELSE replace(replace(replace(cp.price, '٫', '.'), '.', ''), ',', '.')
            END
          WHEN strpos(replace(cp.price, '٫', '.'), ',') > 0
            THEN replace(replace(cp.price, '٫', '.'), ',', '.')
          ELSE replace(cp.price, '٫', '.')
        END, ' ', '')) AS DECIMAL(38,9))
    """
    duck = con.sql(
        f"""
    WITH li AS (
      SELECT current_url, unnest(cart_products) AS cp
      FROM raw_events
      WHERE collection = 'checkout_success' AND cart_products IS NOT NULL
    ),
    typed AS (
      SELECT current_url,
             TRY_CAST(cp.amount AS BIGINT) AS qty,
             {parse} AS price,
             trim(cp.currency) AS cur,
             lower(trim(cp.currency)) AS cur_norm
      FROM li
    ),
    mapped AS (
      SELECT *,
        CASE
          WHEN cur IS NULL OR cur = '' THEN NULL
          WHEN cur_norm = 'usd $' THEN 'USD'
          WHEN cur_norm = 'zł' THEN 'PLN'
          WHEN cur_norm = 'kč' THEN 'CZK'
          WHEN cur_norm = 'лв.' THEN 'BGN'
          WHEN cur_norm = 'din.' THEN 'RSD'
          WHEN cur_norm = 'r$' THEN 'BRL'
          WHEN cur = '€' THEN 'EUR'
          WHEN cur = '£' THEN 'GBP'
          WHEN cur = 'د.ك.‏' THEN 'KWD'
          ELSE NULL
        END AS mapped_code,
        CASE WHEN cur = '$' OR cur_norm = 'kr' THEN TRUE ELSE FALSE END AS ambiguous,
        regexp_extract(lower(trim(coalesce(regexp_extract(current_url, '://([^/]+)', 1), ''))), '\\.([a-z]{{2,}})$', 1) AS tld,
        lower(trim(coalesce(regexp_extract(current_url, '://([^/]+)', 1), ''))) AS host
      FROM typed
    ),
    inferred AS (
      SELECT *,
        coalesce(mapped_code,
          CASE WHEN ambiguous THEN
            CASE
              WHEN host LIKE '%co.uk' THEN 'GBP'
              WHEN tld = 'uk' THEN 'GBP' WHEN tld = 'de' THEN 'EUR'
              WHEN tld = 'fr' THEN 'EUR' WHEN tld = 'it' THEN 'EUR'
              WHEN tld = 'se' THEN 'SEK' WHEN tld = 'dk' THEN 'DKK'
              WHEN tld = 'vn' THEN 'VND'
              ELSE NULL
            END
          ELSE NULL END) AS code
      FROM mapped
    ),
    fx(currency_code, usd_to_ccy) AS (VALUES
      {fx_values}
    )
    SELECT i.code AS currency_code,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN i.code IS NULL OR fx.usd_to_ccy IS NULL THEN NULL
                    ELSE (i.qty * i.price) / CAST(fx.usd_to_ccy AS DECIMAL(38,9)) END)
                AS DOUBLE) AS usd_total
    FROM inferred i
    LEFT JOIN fx ON fx.currency_code = i.code
    GROUP BY i.code
    """
    ).df()

    fact = p.ref("mart_fact_order")
    # mart grain is option-level; de-duplicate back to cart-item grain
    # (order x cp_offset) before summing so totals match the cart items.
    item_grain = fact.select(
        "order_id", "cp_offset", "currency_code", "line_total_amount_usd"
    ).dropDuplicates(["order_id", "cp_offset"])
    got = {
        r.currency_code: (r.n_lines, r.usd_total)
        for r in item_grain.groupBy("currency_code")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("line_total_amount_usd").cast("double").alias("usd_total"),
        )
        .collect()
    }
    want = {r.currency_code if r.currency_code == r.currency_code else None: (r.n_lines, r.usd_total) for r in duck.itertuples(index=False)}
    want = {
        (None if (isinstance(k, float)) else k): v for k, v in want.items()
    }
    assert set(got) == set(want), (sorted(map(str, got)), sorted(map(str, want)))
    for k in got:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        a, b = got[k][1], want[k][1]
        if a is None or b is None or b != b:
            assert (a is None or a != a) and (b is None or b != b), (k, a, b)
        else:
            assert abs(a - b) <= 1e-6 * max(1.0, abs(b)), (k, a, b)


def test_incremental_fact_run(glamira, spark, tmp_path):
    """P7+J11 wired through the warehouse: day-1 fact + overlapping day-2
    re-extract merge to exactly the full-history fact (source wins on
    collision, lookback overlap deduped by item_key)."""
    from glamira_batch_processing_spark.operators.incremental import merge_upsert

    p, _ = glamira
    full = p.ref("stg_order")
    cutoff = 1480000000
    lookback = cutoff - 3 * 86400  # the reference's 3-day lookback
    day1 = full.filter(F.col("time_stamp") < cutoff)
    day2 = full.filter(F.col("time_stamp") >= lookback)  # overlaps day1
    merged = merge_upsert(day1, day2, ["item_key"])
    assert merged.count() == full.count()
    a = sorted(r.item_key for r in merged.select("item_key").collect())
    b = sorted(r.item_key for r in full.select("item_key").collect())
    assert a == b


def test_run_results_artifact(spark, tmp_path):
    """dbt target/run_results.json parity (SURVEY §3.1): per-model
    status, timing, materialization, dependency order, row counts for
    tables, error capture for failing models."""
    import json

    from glamira_batch_processing_spark.plans.pipeline import Pipeline

    p = Pipeline(spark, workdir=str(tmp_path))
    p.add_source("src", spark.range(10).toDF("n"))

    @p.model("base", materialized="view")
    def base(pl):
        return pl.source("src").filter("n < 8")

    @p.model("agg", materialized="table")
    def agg(pl):
        from pyspark.sql import functions as F

        return pl.ref("base").agg(F.count("*").alias("c"))

    p.run(["agg"])
    res = p.run_results()
    assert [r["model"] for r in res] == ["base", "agg"]  # dependency order
    assert all(r["status"] == "success" for r in res)
    assert res[0]["rows"] is None and res[0]["materialized"] == "view"
    assert res[1]["rows"] == 1 and res[1]["materialized"] == "table"
    assert all(r["elapsed_s"] >= 0 for r in res)
    path = p.write_run_results()
    on_disk = json.loads(open(path).read())
    assert [r["model"] for r in on_disk["results"]] == ["base", "agg"]

    # error capture: the failing model records an error entry and raises
    p2 = Pipeline(spark, workdir=str(tmp_path / "p2"))
    p2.add_source("src", spark.range(3).toDF("n"))

    @p2.model("bad", materialized="view")
    def bad(pl):
        raise RuntimeError("boom")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        p2.run(["bad"])
    assert p2.run_results()[-1]["status"] == "error"
    assert "boom" in p2.run_results()[-1]["message"]


def test_manifest_records_observed_dag(glamira):
    """manifest.json parity: dependency edges come from the ref()/
    source() calls the build actually made — for the real Glamira DAG,
    the fact mart must depend on its staging/dim models."""
    import json

    p, _ = glamira
    man = p.manifest()
    deps = man["models"]["mart_fact_order"]["depends_on"]
    assert "stg_order" in deps or "int_order_qa" in deps or any(
        d.startswith(("stg_", "int_", "dim_")) for d in deps
    ), deps
    # every recorded dependency is a declared model
    for m, node in man["models"].items():
        for d in node["depends_on"]:
            assert d in man["models"], (m, d)
    path = p.write_manifest()
    assert json.loads(open(path).read())["models"]


def test_check_relationships_fk_integrity(spark):
    """dbt 'relationships' test analog: orphaned FK rows counted,
    NULL FKs pass (dbt semantics)."""
    from glamira_batch_processing_spark.plans.checks import check_relationships

    parent = spark.createDataFrame([(1,), (2,)], "id long")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3), (13, None)], "ck long, fk long"
    )
    assert check_relationships(child, "fk", parent, "id") == 1
    ok = spark.createDataFrame([(10, 1), (13, None)], "ck long, fk long")
    assert check_relationships(ok, "fk", parent, "id") == 0


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs ``action()`` launches, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_job_budget(glamira, spark, tmp_path):
    """One full build computes each shared staging model once. With
    stg_order/stg_customer as views recomputed in every consumer a
    20k-event build ran 62 Spark jobs; as tables it runs 34, at that
    size and at this fixture's."""
    _, paths = glamira
    p = build_glamira_pipeline(
        spark,
        raw_events=spark.read.parquet(paths["raw_events"]),
        raw_product=spark.read.parquet(paths["raw_product"]),
        raw_ip_locations=spark.read.parquet(paths["raw_ip_locations"]),
        workdir=str(tmp_path / "models"),
    )
    assert len(p.models) == 14
    jobs = _jobs_in_group(spark, "glamira-build-budget", p.run)
    assert jobs <= 36, jobs


def test_table_read_back_launches_no_job(spark, tmp_path):
    """A table's ref() runs its write and nothing else: reading the
    parquet back with the writer's schema infers none."""
    from glamira_batch_processing_spark.plans.pipeline import Pipeline

    p = Pipeline(spark, workdir=str(tmp_path))

    @p.model("flat", materialized="table")
    def flat(pl):
        return spark.range(50, numPartitions=1).withColumn("k", F.col("id") % 3)

    @p.model("by_day", materialized="table", partition_by="date")
    def by_day(pl):
        return spark.range(50, numPartitions=1).select(
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("date"),
            "id",
        )

    for name in ("flat", "by_day"):
        jobs = _jobs_in_group(spark, f"read-back-{name}", lambda: p.ref(name).schema)
        assert jobs == 1, (name, jobs)  # the write's job only


def test_table_read_back_schema_matches_inference(glamira, spark):
    """Read back with the writer's schema, every table has the field
    names, order and types parquet inference gives, the partition
    column last as a date."""
    from pyspark.sql.types import DateType

    p, _ = glamira
    tables = [n for n, m in p.models.items() if m.materialized == "table"]
    assert {"mart_fact_order", "mart_dim_customer"} <= set(tables)
    for name in tables:
        got = [(f.name, f.dataType) for f in p.ref(name).schema]
        inferred = [(f.name, f.dataType) for f in spark.read.parquet(f"{p.workdir}/{name}").schema]
        assert got == inferred, name
    assert p.ref("mart_fact_order").schema.fields[-1].dataType == DateType()


def test_mart_dim_customer_matches_three_pass_formulation(spark):
    """The one-pass mart_dim_customer equals the earlier formulation
    (latest per (email, user), then per user, merge-back, distinct, and a
    third dedupe) on hand-built staging and SCD frames."""
    import datetime as dt

    from glamira_batch_processing_spark.functions.cleaning import normalize_email
    from glamira_batch_processing_spark.operators.windows import dedupe_latest
    from glamira_batch_processing_spark.plans.pipeline import Model

    t1, t2 = dt.datetime(2020, 1, 1), dt.datetime(2020, 6, 1)
    stg_customer = spark.createDataFrame(
        [
            (" A@x ", 1, "Unique"),
            ("b@x", 1, "Unique"),
            (" Zed@x", 2, "Unique"),  # user 2: staging only
            ("alpha@x ", 2, "Unique"),
            ("n1@x", None, "Unique"),  # NULL user_db_id
            (" M0@x", None, "Unique"),
            ("p@x", 3, "Multiple"),  # user 3: several staging emails
            ("q@x", 3, "Multiple"),
        ],
        "email_address string, user_db_id long, has_email_multiple_user_ids string",
    )
    scd = spark.createDataFrame(
        [
            (1, "b@x", t2),  # user 1: two emails tied on the latest time
            (1, "a@x", t2),
            (1, "c@x", t1),
            (3, "r@x", t1),  # user 3: one SCD email, seen twice
            (3, "r@x", t2),
            (None, "z@x", t2),
            (4, "d@x", t1),  # user 4: not in staging
        ],
        "user_db_id long, email_address string, time timestamp",
    )

    p = build_glamira_pipeline(spark, None, None, None)
    p.models["stg_customer"] = Model("stg_customer", lambda _: stg_customer)
    p.models["customer_email_scd"] = Model("customer_email_scd", lambda _: scd)
    got = p.ref("mart_dim_customer")

    latest = dedupe_latest(
        scd.select("email_address", "user_db_id", "time"),
        ["email_address", "user_db_id"],
        [F.desc("time")],
    ).select(
        "user_db_id",
        F.col("email_address").alias("latest_seen_email_address"),
        F.col("time").alias("last_seen_ts"),
    )
    latest_per_user = dedupe_latest(
        latest, ["user_db_id"], [F.desc("last_seen_ts"), F.col("latest_seen_email_address")]
    )
    final = stg_customer.select(
        "user_db_id", normalize_email(F.col("email_address")).alias("original_email_address")
    ).join(latest_per_user, "user_db_id", "left").select(
        "user_db_id",
        F.coalesce("latest_seen_email_address", "original_email_address").alias(
            "email_address_final"
        ),
        "last_seen_ts",
    )
    want = dedupe_latest(
        final.distinct(), ["user_db_id"], [F.desc("last_seen_ts"), F.col("email_address_final")]
    ).withColumn("customer_key", F.xxhash64("email_address_final"))

    assert got.schema == want.schema
    rows = got.collect()
    assert len(rows) == 4 and set(rows) == set(want.collect())
    assert {(r.user_db_id, r.email_address_final, r.last_seen_ts) for r in rows} == {
        (1, "a@x", t2),
        (2, "alpha@x", None),
        (3, "r@x", t2),
        (None, "m0@x", None),
    }
