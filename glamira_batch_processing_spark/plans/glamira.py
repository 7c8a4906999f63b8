"""The Glamira warehouse DAG, Spark-first.

Model-for-model rebuild of the reference's dbt project
(Modelling/dbt_bigquery_glamira): raw -> staging (lazy views) ->
intermediate QA -> SCD2 snapshot -> marts (persisted tables) -> audit.
Per-model reference citations are in each builder's docstring.

Two staging models are tables, not views: of the models a build
writes, ``stg_order`` is read by four (the SCD, the fact and both
audits) and ``stg_customer`` by three (the SCD, the customer dim and
the orphan audit). As lazy views each would be recomputed, shuffles
and all, inside every consumer's Spark jobs. With a workdir each is
computed and written once, and its consumers scan the parquet,
column-pruned. Without a workdir tables stay lazy, like views.

Layout mirrors the lineage in SURVEY.md §0; all transforms are Column
expressions (no UDFs), dims are broadcast into the fact, and the fact
write partitions by event date for downstream pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import (
    normalize_email,
    parse_localized_number,
    user_id_status,
)
from ..functions.currency import (
    currency_code_expr,
    currency_status_expr,
    fx_rates,
    infer_currency_from_tld,
)
from ..functions.keys import item_key, location_key, surrogate_key
from ..operators.audit import null_rates, orphan_rates
from ..operators.windows import dedupe_latest
from .pipeline import Pipeline


def build_glamira_pipeline(
    spark, raw_events: DataFrame, raw_product: DataFrame, raw_ip_locations: DataFrame,
    workdir: str | None = None,
) -> Pipeline:
    p = Pipeline(spark, workdir=workdir)
    p.add_source("countly_summary", raw_events)
    p.add_source("product", raw_product)
    p.add_source("ip_location_raw", raw_ip_locations)

    @p.model("stg_location")
    def stg_location(p: Pipeline) -> DataFrame:
        """ref: models/staging/stg_location.sql — location_key =
        abs(hash(lower(trim(country|region|city)))); keeps natural ip."""
        src = p.source("ip_location_raw")
        return src.select(
            location_key(F.col("country_code"), F.col("region"), F.col("city")).alias(
                "location_key"
            ),
            F.col("ip").cast("string").alias("ip"),
            F.col("country_code").cast("string").alias("country_code"),
            F.col("country_name").cast("string").alias("country_name"),
            F.col("region").cast("string").alias("region"),
            F.col("city").cast("string").alias("city"),
            F.col("isp").cast("string").alias("isp"),
        )

    @p.model("stg_order", materialized="table")
    def stg_order(p: Pipeline) -> DataFrame:
        """ref: models/staging/stg_order.sql — checkout filter, typed
        casts, double LEFT JOIN UNNEST WITH OFFSET (posexplode_outer x2),
        localized price parse, item_key, location join, line_total."""
        src = p.source("countly_summary")
        base = src.filter(F.col("collection") == "checkout_success").select(
            F.col("order_id").cast("string").alias("order_id"),
            F.col("time_stamp").cast("long").alias("time_stamp"),
            F.timestamp_seconds(F.col("time_stamp").cast("long")).alias("event_ts"),
            F.col("local_time").cast("string").alias("local_time"),
            F.col("collection").cast("string").alias("collection"),
            F.col("ip").cast("string").alias("ip"),
            F.col("user_agent").cast("string").alias("user_agent"),
            F.col("resolution").cast("string").alias("resolution"),
            F.col("user_id_db").try_cast("long").alias("user_db_id"),
            F.col("device_id").cast("string").alias("device_id"),
            F.col("api_version").cast("string").alias("api_version"),
            F.col("store_id").cast("string").alias("store_id"),
            F.col("show_recommendation").cast("string").alias("show_recommendation"),
            F.col("current_url").cast("string").alias("current_url"),
            F.col("referrer_url").cast("string").alias("referrer_url"),
            F.col("email_address").cast("string").alias("email_address"),
            F.col("cart_products"),
        )
        line_items = base.select(
            "*", F.posexplode_outer("cart_products").alias("cp_offset", "cp")
        ).select(
            "*",
            F.col("cp.product_id").try_cast("long").alias("product_id"),
            F.col("cp.amount").try_cast("long").alias("product_quantity"),
            parse_localized_number(F.col("cp.price")).alias("product_price"),
            F.col("cp.currency").cast("string").alias("product_currency"),
            F.col("cp.option").alias("option_array"),
        ).drop("cart_products", "cp")
        options = line_items.select(
            "*", F.posexplode_outer("option_array").alias("opt_offset", "opt")
        ).select(
            "*",
            F.col("opt.option_id").cast("string").alias("option_id"),
            F.col("opt.option_label").cast("string").alias("option_label"),
        ).drop("option_array", "opt")
        locations = F.broadcast(
            p.ref("stg_location").select("ip", "location_key")
        )
        out = options.join(locations, "ip", "left")
        return out.select(
            item_key(
                F.col("order_id"),
                F.col("product_id"),
                F.col("option_id"),
                F.col("cp_offset"),
                F.col("opt_offset"),
                F.col("time_stamp"),
            ).alias("item_key"),
            "location_key",
            "order_id",
            "time_stamp",
            "event_ts",
            "local_time",
            "collection",
            "ip",
            "user_agent",
            "resolution",
            "user_db_id",
            "device_id",
            "api_version",
            "store_id",
            "show_recommendation",
            "current_url",
            "referrer_url",
            "email_address",
            "product_id",
            "product_quantity",
            "product_price",
            "product_currency",
            "option_id",
            "option_label",
            "cp_offset",
            "opt_offset",
            (
                F.col("product_quantity").cast("decimal(38,9)")
                * F.col("product_price")
            ).alias("line_total_amount"),
        )

    @p.model("stg_customer", materialized="table")
    def stg_customer(p: Pipeline) -> DataFrame:
        """ref: models/staging/stg_customer.sql — user status classify,
        email multiplicity flag, distinct pairs. The reference's
        ``user_check`` CTE groups by user and joins back only to attach
        ``user_id_status(user_id_db)``, a pure function of the key that
        is never VALID for NULL, so a row-wise filter keeps the same
        rows without the two shuffles."""
        src = p.source("countly_summary")
        checked = src.filter(
            F.col("email_address").isNotNull()
            & (F.trim("email_address") != "")
            & (user_id_status(F.col("user_id_db")) == "VALID")
        ).select("email_address", F.col("user_id_db").cast("string").alias("user_db_id"))
        email_base = checked.groupBy("email_address").agg(
            F.when(F.countDistinct("user_db_id") == 1, "Unique")
            .when(F.countDistinct("user_db_id") > 1, "Multiple")
            .otherwise("Unknown")
            .alias("has_email_multiple_user_ids")
        )
        pairs = checked.distinct()
        return (
            pairs.join(email_base, "email_address")
            .select(
                "email_address",
                F.col("user_db_id").try_cast("long").alias("user_db_id"),
                "has_email_multiple_user_ids",
            )
        )

    @p.model("stg_product")
    def stg_product(p: Pipeline) -> DataFrame:
        """ref: models/staging/stg_product.sql — to_json + JSON_VALUE
        with the product_id->productId->id->_id fallback, SAFE_CAST
        weights, fake-null id filter, product_key."""
        src = p.source("product")
        j = src.select(F.to_json(F.col("product")).alias("pj")).filter(
            F.col("pj").isNotNull()
        )
        # ONE json_tuple parse per row, where 16 get_json_object calls
        # (the reference's JSON_VALUE) each re-parsed the same string.
        # The two agree only because ``pj`` is to_json of a typed
        # struct, whose keys are unique: on a duplicate key json_tuple
        # keeps the last value and get_json_object the first. Parsing
        # raw JSON text here instead would need get_json_object back.
        # Checked bit-exact against get_json_object on 20k sf0.1 rows,
        # nested/decimal/missing cases included.
        keys = (
            "product_id", "productId", "id", "_id", "gender",
            "category_name", "name", "product_type", "store_code",
            "attribute_set", "category", "material_design", "sku",
            "none_metal_weight", "fixed_silver_weight", "gold_weight",
        )
        aliases = (
            "j_pid", "j_pid2", "j_id", "j_uid", "gender",
            "category_name", "pname", "product_type", "store_code",
            "attribute_set", "category", "material_design", "sku",
            "none_metal_weight", "fixed_silver_weight", "gold_weight",
        )
        tup = j.select(F.json_tuple(F.col("pj"), *keys).alias(*aliases))
        typed = tup.select(
            F.coalesce(
                F.col("j_pid"), F.col("j_pid2"), F.col("j_id"), F.col("j_uid")
            ).alias("product_id_str"),
            "gender",
            "category_name",
            F.col("pname").alias("product_name"),
            "product_type",
            "store_code",
            "attribute_set",
            "category",
            "material_design",
            "sku",
            F.col("none_metal_weight").try_cast("decimal(38,9)").alias("none_metal_weight"),
            F.col("fixed_silver_weight").try_cast("decimal(38,9)").alias("fixed_silver_weight"),
            F.col("gold_weight").try_cast("decimal(38,9)").alias("gold_weight"),
        )
        return typed.filter(
            F.col("product_id_str").isNotNull()
            & (F.trim("product_id_str") != "")
            & (F.trim("product_id_str") != "null")
        ).select(
            surrogate_key(F.lower(F.trim("product_id_str"))).try_cast("long").alias("product_key"),
            F.col("product_id_str").try_cast("long").alias("product_id"),
            "gender",
            "category_name",
            "product_name",
            "none_metal_weight",
            "product_type",
            "fixed_silver_weight",
            "gold_weight",
            "store_code",
            "attribute_set",
            "category",
            "material_design",
            "sku",
        )

    @p.model("customer_email_scd", materialized="table")
    def customer_email_scd(p: Pipeline) -> DataFrame:
        """ref: snapshots/customer_email_scd.sql — per-event append-only
        SCD2 history of (user, email) with recency rank."""
        o = p.ref("stg_order")
        c = p.ref("stg_customer")
        fact = (
            o.join(c.select("user_db_id"), "user_db_id", "left_semi")
            .filter(
                F.col("user_db_id").isNotNull()
                & F.col("email_address").isNotNull()
                & (F.trim("email_address") != "")
            )
            .select(
                "user_db_id",
                normalize_email(F.col("email_address")).alias("email_address"),
                "time_stamp",
                F.timestamp_seconds(F.col("time_stamp")).alias("event_ts"),
                F.to_date(F.timestamp_seconds(F.col("time_stamp"))).alias("date"),
                F.timestamp_seconds(F.col("time_stamp")).alias("time"),
            )
        )
        w = Window.partitionBy("user_db_id").orderBy(F.desc("event_ts"))
        return fact.withColumn("rn", F.row_number().over(w))

    @p.model("mart_dim_customer", materialized="table")
    def mart_dim_customer(p: Pipeline) -> DataFrame:
        """ref: models/marts/mart_dim_customer.sql — latest email per
        (email,user) from the SCD history wins over staging email."""
        c = p.ref("stg_customer")
        scd = p.ref("customer_email_scd")
        # One pass per input. The latest SCD email per user is the latest
        # per (email, user) pair taken again per user, ties going to the
        # smaller email; a user the SCD never saw keeps the smallest of
        # their staging emails. One row per user keeps customer_key
        # joinable from the fact (schema.yml declares the dim key unique).
        latest = dedupe_latest(
            scd.select("user_db_id", "email_address", "time"),
            ["user_db_id"],
            [F.desc("time"), F.col("email_address")],
        )
        original = c.groupBy("user_db_id").agg(
            F.min(normalize_email(F.col("email_address"))).alias("original_email_address")
        )
        return original.join(latest, "user_db_id", "left").select(
            "user_db_id",
            F.coalesce("email_address", "original_email_address").alias(
                "email_address_final"
            ),
            F.col("time").alias("last_seen_ts"),
        ).withColumn("customer_key", F.xxhash64("email_address_final"))

    @p.model("mart_dim_product", materialized="table")
    def mart_dim_product(p: Pipeline) -> DataFrame:
        """ref: models/marts/mart_dim_product.sql — projection of staging."""
        return p.ref("stg_product").select(
            "product_key", "product_id", "sku", "gender", "category_name",
            "product_type", "store_code", "attribute_set", "category",
            "material_design", "product_name",
        )

    @p.model("mart_dim_location", materialized="table")
    def mart_dim_location(p: Pipeline) -> DataFrame:
        """ref: models/marts/mart_dim_location.sql — canonical row per
        location_key (W2, min ip)."""
        return dedupe_latest(
            p.ref("stg_location"), ["location_key"], [F.col("ip")]
        ).select("location_key", "country_code", "country_name", "region", "city")

    @p.model("mart_dim_date", materialized="table")
    def mart_dim_date(p: Pipeline) -> DataFrame:
        """ref: models/marts/mart_dim_date.sql — 2015..2050 date spine."""
        return (
            p.spark.range(1)
            .select(
                F.explode(
                    F.sequence(
                        F.lit("2015-01-01").cast("date"),
                        F.lit("2050-12-31").cast("date"),
                        F.expr("interval 1 day"),
                    )
                ).alias("date")
            )
            .select("date", F.year("date").alias("year"), F.month("date").alias("month"))
        )

    @p.model("mart_fact_order", materialized="table", partition_by="date")
    def mart_fact_order(p: Pipeline) -> DataFrame:
        """ref: models/marts/mart_fact_order.sql — currency clean/map,
        TLD inference for ambiguous labels, latest-fx join, USD measures,
        customer + product key swaps.

        DELIBERATE DIVERGENCE from the reference: USD measures here gate
        on the POST-inference currency_code, so rows whose currency was
        recovered via TLD inference get real product_price_usd /
        line_total_amount_usd values. The reference
        (mart_fact_order.sql:191-201) gates on the pre-inference code and
        leaves USD amounts NULL for INFERRED rows — inferring a currency
        and then refusing to use it. We treat that as a reference bug;
        the divergence is pinned by tests/test_glamira_pipeline.py
        (INFERRED rows must have non-NULL USD amounts). Rows with no
        mapped or inferred currency keep NULL USD amounts in both."""
        s = p.ref("stg_order")
        cur = s.withColumn("product_currency_raw", F.trim("product_currency")).withColumn(
            "mapped_code", currency_code_expr(F.col("product_currency"))
        ).withColumn(
            "currency_status_pre", currency_status_expr(F.col("product_currency"))
        )
        inferred = cur.withColumn(
            "inferred_currency",
            F.when(F.col("mapped_code").isNotNull(), F.lit(None)).otherwise(
                infer_currency_from_tld(F.col("currency_status_pre"), F.col("current_url"))
            ),
        ).withColumn(
            "currency_code", F.coalesce("mapped_code", "inferred_currency")
        ).withColumn(
            "currency_status",
            F.when(F.col("mapped_code").isNotNull(), F.col("currency_status_pre"))
            .when(
                (F.col("currency_status_pre") == "AMBIGUOUS")
                & F.col("inferred_currency").isNotNull(),
                F.lit("INFERRED"),
            )
            .otherwise(F.col("currency_status_pre")),
        )
        fx = fx_rates(p.spark)
        fx_latest = fx.join(
            F.broadcast(fx.agg(F.max("fx_date").alias("fx_date"))), "fx_date"
        ).select("currency_code", F.col("usd_to_ccy").cast("decimal(38,9)").alias("usd_to_ccy"))
        withfx = inferred.join(
            F.broadcast(fx_latest), "currency_code", "left"
        )
        final = withfx.select(
            "item_key",
            "order_id",
            "product_id",
            "option_id",
            "user_db_id",
            "ip",
            "time_stamp",
            F.timestamp_seconds(F.col("time_stamp")).alias("event_ts"),
            F.to_date(F.timestamp_seconds(F.col("time_stamp"))).alias("date"),
            "collection",
            F.col("product_currency_raw").alias("product_currency"),
            "currency_code",
            "currency_status",
            "email_address",
            "device_id",
            "user_agent",
            "resolution",
            "store_id",
            "local_time",
            "current_url",
            "referrer_url",
            "show_recommendation",
            "location_key",
            "product_quantity",
            "product_price",
            "line_total_amount",
            "cp_offset",
            "opt_offset",
            F.when(F.col("currency_code").isNull(), F.lit(None))
            .when(F.col("usd_to_ccy").isNull(), F.lit(None))
            .otherwise(F.col("product_price") / F.col("usd_to_ccy"))
            .alias("product_price_usd"),
            F.when(F.col("currency_code").isNull(), F.lit(None))
            .when(F.col("usd_to_ccy").isNull(), F.lit(None))
            .otherwise(F.col("line_total_amount") / F.col("usd_to_ccy"))
            .alias("line_total_amount_usd"),
        )
        cust = p.ref("mart_dim_customer").select(
            F.col("email_address_final"), "customer_key"
        ).dropDuplicates(["email_address_final"])
        with_cust = (
            final.join(
                F.broadcast(cust),
                normalize_email(final.email_address) == cust.email_address_final,
                "left",
            )
            .drop("email_address")
        )
        prod = p.ref("mart_dim_product").select("product_id", "product_key")
        return (
            with_cust.join(F.broadcast(prod), "product_id", "left")
        )

    @p.model("int_order_qa")
    def int_order_qa(p: Pipeline) -> DataFrame:
        """ref: models/intermediate/int_order_qa.sql — 13 boolean rules
        AND-ed into is_row_valid (email/ip/url regex, qty/price/total
        bounds, ts range, email-customer consistency)."""
        from ..operators.audit import qa_flags

        o = p.ref("stg_order")
        # Deliberate divergence from the reference (int_order_qa.sql:12-17
        # + line 70): the reference left-joins EVERY stg_customer row per
        # user_db_id, fanning each order row out once per customer email.
        # We keep one QA row per order row and treat the rule as "email
        # matches ANY of that user's customer emails" — deterministic
        # (no unordered dropDuplicates pick) and stable across runs.
        # cust_email_norm is kept as the MIN email, a deterministic
        # representative for downstream inspection.
        cust = (
            p.ref("stg_customer")
            .select(
                "user_db_id",
                normalize_email(F.col("email_address")).alias("cust_email_norm"),
            )
            .groupBy("user_db_id")
            .agg(
                F.min("cust_email_norm").alias("cust_email_norm"),
                F.collect_set("cust_email_norm").alias("cust_emails"),
            )
        )
        joined = o.join(cust, "user_db_id", "left")
        flagged = qa_flags(
            joined,
            email=F.col("email_address"),
            ip=F.col("ip"),
            current_url=F.col("current_url"),
            referrer_url=F.col("referrer_url"),
            quantity=F.col("product_quantity"),
            price=F.col("product_price"),
            event_type=F.col("collection"),
            checkout_type="checkout_success",
        )
        email_norm = normalize_email(F.col("email_address"))
        in_range = F.col("event_ts").between(
            F.lit("2015-01-01").cast("timestamp"),
            F.current_timestamp() + F.expr("interval 1 day"),
        )
        email_match = (
            F.when(F.col("user_db_id").isNull() | email_norm.isNull(), F.lit(True))
            .when(
                # no customer row, or customer rows with only NULL emails
                # (collect_set drops NULLs) -> rule passes vacuously
                F.col("cust_emails").isNull()
                | (F.size(F.col("cust_emails")) == 0),
                F.lit(True),
            )
            .otherwise(F.array_contains(F.col("cust_emails"), email_norm))
        )
        return flagged.withColumn("is_event_ts_in_range", in_range).withColumn(
            "is_email_matches_customer", email_match
        ).withColumn(
            "is_row_valid",
            F.col("is_row_valid") & in_range & email_match,
        ).drop("cust_emails")

    @p.model("int_customer_email_qa")
    def int_customer_email_qa(p: Pipeline) -> DataFrame:
        """ref: models/intermediate/int_customer_email_qa.sql."""
        from ..operators.audit import EMAIL_RE

        c = p.ref("stg_customer").filter(
            F.col("email_address").isNotNull() & (F.trim("email_address") != "")
        ).select(
            normalize_email(F.col("email_address")).alias("email_norm"), "user_db_id"
        )
        agg = c.groupBy("email_norm").agg(
            F.countDistinct("user_db_id").alias("distinct_user_db_ids")
        )
        return c.join(agg, "email_norm").select(
            F.col("email_norm").alias("email_address"),
            "user_db_id",
            F.col("email_norm").rlike(EMAIL_RE).alias("is_email_valid"),
            (F.col("distinct_user_db_ids") == 1).alias("is_email_unique_to_user"),
            (F.col("distinct_user_db_ids") > 1).alias("has_email_multiple_users"),
        )

    @p.model("audit_null_rates_stg_order", materialized="table")
    def audit_null_rates_stg_order(p: Pipeline) -> DataFrame:
        """ref: models/audit/audit_null_rates_stg_order.sql."""
        o = p.ref("stg_order")
        renames = {
            "order_id": "order_id", "event_ts": "event_ts",
            "user_db_id": "user_db_id", "product_id": "product_id",
            "product_quantity": "product_quantity", "product_price": "price",
            "product_currency": "currency", "ip": "ip",
        }
        src = o.select(*[F.col(c).alias(a) for c, a in renames.items()])
        return null_rates(src, list(renames.values())).withColumn(
            "run_ts", F.current_timestamp()
        )

    @p.model("audit_orphan_rates", materialized="table")
    def audit_orphan_rates(p: Pipeline) -> DataFrame:
        """ref: models/audit/audit_orphan_rates.sql — fact vs product/
        customer/location orphans in one pass."""
        o = p.ref("stg_order")
        prod = p.ref("stg_product").select(F.col("product_id").alias("p_product_id")).distinct()
        cust = p.ref("stg_customer").select(F.col("user_db_id").alias("c_user_db_id")).distinct()
        loc = p.ref("stg_location").select(F.col("ip").alias("l_ip")).distinct()
        return orphan_rates(
            o,
            {
                "product": (F.broadcast(prod), o.product_id == F.col("p_product_id"), "p_product_id"),
                "customer": (F.broadcast(cust), o.user_db_id == F.col("c_user_db_id"), "c_user_db_id"),
                "location": (F.broadcast(loc), o.ip == F.col("l_ip"), "l_ip"),
            },
        ).withColumn("fact_table", F.lit("stg_order")).withColumn(
            "run_ts", F.current_timestamp()
        )

    return p
