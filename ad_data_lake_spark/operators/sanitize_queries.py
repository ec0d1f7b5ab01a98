"""Oracle-checkable golden queries for the sanitize layer (§2.8).

Pattern: the Spark side *constructs* a messy input (JSON-ish strings,
mixed timestamp formats, budget strings) deterministically from driver
table columns, then applies the real sanitize function; the DuckDB
oracle computes the expected clean output directly from the source
columns. A value-hash match therefore proves the function's semantics,
not just that two engines parse the same SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ad_data_lake_spark.functions import creative as C
from ad_data_lake_spark.functions import sanitize as S
from ad_data_lake_spark.sources.tables import spread

CLAMP_NOW = "1998-01-01 00:00:00"


def _m(col: str, n: int) -> Column:
    return F.col(col) % n


def fn_positive_amount(orders: DataFrame) -> DataFrame:
    raw = F.concat(F.lit("  "), (F.col("o_totalprice") - 150000).cast("string"), F.lit(" "))
    return orders.select(
        "o_orderkey", S.parse_positive_amount(raw).alias("amount_cents")
    )


def fn_budget_exclusion(orders: DataFrame) -> DataFrame:
    daily_raw = F.when(_m("o_orderkey", 3) == 0, F.col("o_totalprice").cast("string"))
    lifetime_raw = F.when(_m("o_orderkey", 2) == 0, (F.col("o_totalprice") * 2).cast("string"))
    daily, lifetime = S.budget_mutual_exclusion(daily_raw, lifetime_raw)
    return orders.select(
        "o_orderkey", daily.alias("daily_budget"), lifetime.alias("lifetime_budget")
    )


def fn_spend_cap(orders: DataFrame) -> DataFrame:
    raw = (
        F.when(_m("o_orderkey", 4) == 0, F.lit("0"))
        .when(_m("o_orderkey", 4) == 1, F.lit("  "))
        .when(_m("o_orderkey", 4) == 3, F.col("o_totalprice").cast("string"))
    )
    return orders.select("o_orderkey", S.normalize_spend_cap(raw).alias("spend_cap"))


def fn_string_collection(customer: DataFrame) -> DataFrame:
    raw = (
        F.when(
            _m("c_custkey", 3) == 0,
            F.concat(F.lit('["'), F.col("c_name"), F.lit(' ", " '), F.col("c_mktsegment"), F.lit('"]')),
        )
        .when(
            _m("c_custkey", 3) == 1,
            F.concat(F.col("c_name"), F.lit(" , "), F.col("c_mktsegment")),
        )
        .otherwise(F.lit("[]"))
    )
    return customer.select(
        "c_custkey",
        F.concat_ws("|", S.normalize_string_collection(raw)).alias("categories"),
    )


def fn_parse_datetime(orders: DataFrame) -> DataFrame:
    raw = (
        F.when(_m("o_orderkey", 3) == 0, F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .when(
            _m("o_orderkey", 3) == 1,
            F.concat(F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("+0800")),
        )
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
    )
    return orders.select("o_orderkey", S.parse_datetime_value(raw).alias("parsed_ts"))


def fn_clamp_start_time(orders: DataFrame) -> DataFrame:
    raw = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    now = F.lit(CLAMP_NOW).cast("timestamp")
    return orders.select(
        "o_orderkey",
        S.isoformat_datetime(S.clamp_start_time(raw, now)).alias("start_time"),
    )


def fn_numeric_autocast(customer: DataFrame) -> DataFrame:
    return customer.select(
        S.numeric_autocast(F.col("c_custkey").cast("string"), "c_id").alias("c_id"),
        S.numeric_autocast(F.col("c_acctbal").cast("string"), "acctbal").alias("acctbal_num"),
        S.numeric_autocast(F.col("c_nationkey").cast("string"), "natkey").alias("natkey_num"),
    )


def fn_boolean_coerce(orders: DataFrame) -> DataFrame:
    vocab = F.array(*[F.lit(v) for v in ("true", "1", "YES", " y ", "FALSE", "0", "no", " N", "maybe")])
    raw = F.element_at(vocab, (_m("o_orderkey", 9) + 1).cast("int"))
    return orders.select(
        "o_orderkey", S.boolean_coerce(raw).alias("is_dynamic_creative")
    )


def fn_actid_norm(customer: DataFrame) -> DataFrame:
    raw = F.when(
        _m("c_custkey", 2) == 0, F.concat(F.lit("act_"), F.col("c_custkey").cast("string"))
    ).otherwise(F.col("c_custkey").cast("string"))
    return customer.select("c_custkey", S.account_id_norm(raw).alias("account_id"))


def fn_flatten_ref(lineitem: DataFrame) -> DataFrame:
    ads = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.struct(F.col("l_partkey").cast("string").alias("id")).alias("creative"),
    )
    return C.flatten_creative_ref(ads)


def fn_coalesce_spec(part: DataFrame) -> DataFrame:
    m = _m("p_partkey", 4)

    def branch(active: Column, text: Column) -> Column:
        # inactive branches carry an empty message — must be skipped
        return F.struct(F.when(active, text).otherwise(F.lit("")).alias("message"))

    spec = F.struct(
        branch(m == 0, F.col("p_name")).alias("template_data"),
        branch(m == 1, F.col("p_name")).alias("link_data"),
        branch(m == 2, F.col("p_name")).alias("video_data"),
        branch(m == 3, F.col("p_name")).alias("photo_data"),
    )
    return part.select("p_partkey", C.coalesce_spec_field(spec, "message").alias("message"))


def fn_gather_arrays(part: DataFrame) -> DataFrame:
    empty = F.lit(None).cast("array<string>")

    def branch(items: Column) -> Column:
        return F.struct(items.alias("retailer_item_ids"))

    spec = F.struct(
        F.array(F.col("p_brand"), F.col("p_type")).alias("retailer_item_ids"),
        branch(F.array(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" ")), F.col("p_name"))).alias(
            "link_data"
        ),
        branch(empty).alias("template_data"),
        branch(F.array(F.lit("  "))).alias("video_data"),
        branch(empty).alias("photo_data"),
    )
    return part.select(
        "p_partkey", F.concat_ws("|", C.gather_retailer_item_ids(spec)).alias("items")
    )


def fn_nested_update(part: DataFrame) -> DataFrame:
    spec = F.struct(
        F.struct(
            F.col("p_name").alias("message"),
            F.lit("old_hash").alias("image_hash"),
            F.col("p_brand").alias("headline"),
        ).alias("link_data")
    )
    updated = C.update_story_spec(spec, F.upper(F.col("p_name")), F.md5(F.col("p_brand")))
    return part.select("p_partkey", F.to_json(updated).alias("spec_json"))


def fn_story_spec_update(part: DataFrame) -> DataFrame:
    """F19 (full branch set) golden query: every
    ``update_object_story_spec`` branch exercised deterministically by
    p_partkey mods — asset image/video swap incl. the pop of the rival
    key (mod 3), message propagation (mod 2), headline/title (mod 5),
    link + call_to_action.value rewrite (mod 4), retailer-id
    clean/set/pop across sections and root (mod 7). Output serialized
    with ``to_json`` (null fields omitted, matching the reference's
    dict pops). Reference pages/1_Campaign_Cloner.py:553-668; CTA
    rewrites inside video/photo_data are omitted because the fixture
    schema carries a call_to_action only under link_data (the guards
    would be identical)."""
    part = spread(part)  # compute-bound: fan the 1-split fixture scan to core count
    null_s = F.lit(None).cast("string")
    orig_ids = F.array(F.col("p_type"))
    spec = F.struct(
        F.struct(
            F.concat(F.lit("om_"), F.col("p_name")).alias("message"),
            F.lit("oldimg").alias("image_hash"),
            F.lit("oldvid").alias("video_id"),
            F.lit("https://old").alias("link"),
            F.lit("https://old").alias("link_url"),
            null_s.alias("headline"),
            null_s.alias("name"),
            F.struct(
                F.lit("SHOP_NOW").alias("type"),
                F.struct(
                    F.lit("https://old").alias("link"),
                    null_s.alias("link_url"),
                ).alias("value"),
            ).alias("call_to_action"),
            orig_ids.alias("retailer_item_ids"),
        ).alias("link_data"),
        F.struct(
            F.lit("vorig").alias("video_id"),
            null_s.alias("title"),
            F.concat(F.lit("vm_"), F.col("p_name")).alias("message"),
            orig_ids.alias("retailer_item_ids"),
        ).alias("video_data"),
        F.struct(
            F.lit("porig").alias("image_hash"),
            F.concat(F.lit("pm_"), F.col("p_name")).alias("message"),
        ).alias("photo_data"),
        F.struct(orig_ids.alias("retailer_item_ids")).alias("template_data"),
        orig_ids.alias("retailer_item_ids"),
    )
    asset_key = (
        F.when(_m("p_partkey", 3) == 0, F.lit("image_hash"))
        .when(_m("p_partkey", 3) == 1, F.lit("video_id"))
    )
    asset_value = F.when(_m("p_partkey", 3) < 2, F.md5(F.col("p_name")))
    message = F.when(_m("p_partkey", 2) == 0, F.concat(F.lit("m_"), F.col("p_name")))
    headline = F.when(_m("p_partkey", 5) == 0, F.col("p_brand"))
    link = F.when(
        _m("p_partkey", 4) == 0,
        F.concat(F.lit("https://x/"), F.col("p_partkey").cast("string")),
    )
    retailer_ids = F.when(
        _m("p_partkey", 7) == 0,
        F.array(
            F.concat(F.lit(" "), F.col("p_brand"), F.lit(" ")),
            F.lit(""),
            F.col("p_brand"),
            F.col("p_type"),
        ),
    )
    # materialize the shared inputs in their own projection first:
    # update_object_story_spec references each argument in many branch
    # guards, and Catalyst does not CSE repeated subtrees inside one
    # projection — as attribute references the md5/concat/when work is
    # computed once per row instead of once per referencing field
    # (measured ~15% on this query's wall clock at sf0.1 — the
    # remaining cost is the to_json serialization of the struct tree)
    prepped = part.select(
        "p_partkey",
        spec.alias("_spec"),
        asset_key.alias("_ak"),
        asset_value.alias("_av"),
        message.alias("_msg"),
        headline.alias("_hl"),
        link.alias("_lnk"),
        retailer_ids.alias("_rid"),
    )
    updated = C.update_object_story_spec(
        F.col("_spec"),
        F.col("_ak"),
        F.col("_av"),
        F.col("_msg"),
        F.col("_hl"),
        F.col("_lnk"),
        F.col("_rid"),
    )
    return prepped.select("p_partkey", F.to_json(updated).alias("spec_json"))


def fn_unicode_unescape(documents: DataFrame) -> DataFrame:
    # golden escapes appended so the UDF has real work on every row
    raw = F.concat(F.substring("text", 1, 20), F.lit("\\u0041\\x42"))
    return documents.select("doc_id", S.unicode_unescape(raw).alias("decoded"))


def fn_cbo_resolve(orders: DataFrame) -> DataFrame:
    """F20 + F21: CBO detection (any campaign budget > 0,
    string-tolerant) and budget resolution (daily → lifetime →
    default), over the same messy budget construction as F2."""
    daily = F.when(_m("o_orderkey", 3) == 0, F.col("o_totalprice").cast("string"))
    lifetime = F.when(_m("o_orderkey", 2) == 0, (F.col("o_totalprice") * 2).cast("string"))
    return orders.select(
        "o_orderkey",
        C.is_campaign_budget_optimized(daily, lifetime).alias("is_cbo"),
        C.resolve_budget(
            S.parse_positive_amount(daily),
            S.parse_positive_amount(lifetime),
            F.lit(500).cast("long"),
        ).alias("resolved_budget"),
    )


def fn_build_cta(part: DataFrame) -> DataFrame:
    """F22: CTA struct construction (upper-cased type + link value)."""
    cta = C.build_call_to_action(
        F.concat(F.lit("  shop_now_"), F.col("p_brand")),
        F.concat(F.lit("https://x/"), F.col("p_partkey").cast("string")),
    )
    return part.select("p_partkey", F.to_json(cta).alias("cta_json"))


def fn_asset_kind(part: DataFrame) -> DataFrame:
    """F28: MIME-prefix / extension asset-kind inference."""
    mime = (
        F.when(_m("p_partkey", 3) == 0, F.lit("video/mp4"))
        .when(_m("p_partkey", 3) == 1, F.lit("image/png"))
        .otherwise(F.lit("application/octet-stream"))
    )
    fname = F.when(
        _m("p_partkey", 4) == 0, F.concat(F.col("p_name"), F.lit(".MOV"))
    ).otherwise(F.concat(F.col("p_name"), F.lit(".jpg")))
    return part.select("p_partkey", C.infer_asset_kind(mime, fname).alias("asset_kind"))


def fn_creative_payload(part: DataFrame) -> DataFrame:
    """F23: creative payload assembly across the three kinds (single
    image / video / carousel incl. child_attachments), serialized — the
    null branches vanish exactly like the reference's only-set-keys
    POST dicts."""
    m = _m("p_partkey", 3)
    kind = (
        F.when(m == 0, F.lit("single_image"))
        .when(m == 1, F.lit("video"))
        .otherwise(F.lit("carousel"))
    )
    key = F.col("p_partkey").cast("string")
    children = F.array(
        F.struct(
            F.concat(F.lit("https://x/"), key, F.lit("/1")).alias("link"),
            F.md5(F.col("p_type")).alias("image_hash"),
            F.col("p_brand").alias("headline"),
        ),
        F.struct(
            F.concat(F.lit("https://x/"), key, F.lit("/2")).alias("link"),
            F.md5(F.col("p_name")).alias("image_hash"),
            F.col("p_brand").alias("headline"),
        ),
    )
    payload = C.assemble_creative_payload(
        name=F.col("p_name"),
        creative_type=kind,
        message=F.concat(F.lit("Buy "), F.col("p_name")),
        link=F.concat(F.lit("https://x/"), key),
        image_hash=F.md5(F.col("p_brand")),
        video_id=F.concat(F.lit("v_"), key),
        children=children,
    )
    return part.select("p_partkey", kind.alias("creative_type"), F.to_json(payload).alias("payload_json"))


def fn_parse_targeting(customer: DataFrame) -> DataFrame:
    """F24: JSON-string targeting → typed struct; every 4th row is
    malformed and must parse to null (the reference returns None)."""
    customer = spread(customer)  # compute-bound: fan the 1-split fixture scan to core count
    raw = F.when(
        _m("c_custkey", 4) != 0,
        F.concat(
            F.lit('{"geo_locations":{"countries":["'),
            F.col("c_mktsegment"),
            F.lit('"]},"age_min":'),
            (20 + _m("c_custkey", 30)).cast("string"),
            F.lit(',"age_max":65,"interests":["'),
            F.col("c_name"),
            F.lit('"]}'),
        ),
    ).otherwise(F.lit("{not json"))
    t = C.parse_targeting(raw)
    # JsonToStructs is CodegenFallback (no subexpression elimination), so
    # per-column getField would re-parse the JSON once per output column;
    # inline(array(t)) runs the parse ONCE per row and emits the fields
    return customer.select("c_custkey", F.inline(F.array(t))).select(
        "c_custkey",
        "age_min",
        "age_max",
        F.element_at(F.col("geo_locations").getField("countries"), 1).alias("country0"),
        F.element_at(F.col("interests"), 1).alias("interest0"),
        # from_json yields an all-null struct (not NULL) on malformed
        # input, so malformed-ness is probed via a required field —
        # mirroring the reference's "did parse produce a usable dict"
        F.col("age_min").isNull().alias("is_malformed"),
    )


def fn_null_strip(orders: DataFrame) -> DataFrame:
    """F27: null/empty stripping on the POST contract — null struct
    fields are absent from the serialized payload."""
    payload = F.struct(
        F.col("o_orderkey").cast("string").alias("id"),
        F.when(_m("o_orderkey", 2) == 0, F.col("o_orderpriority")).alias("priority"),
        F.when(_m("o_orderkey", 3) == 0, F.col("o_orderstatus")).alias("status"),
    )
    return orders.select("o_orderkey", C.strip_nulls_json(payload).alias("payload_json"))


def sanitize_adset(orders: DataFrame) -> DataFrame:
    """F10-composite: adset-shaped sanitize — budget exclusion + the
    adset time-field set (start_time clamped, end_time normalized)."""
    orders = spread(orders)  # compute-bound: fan the 1-split fixture scan to core count
    shaped = orders.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.when(_m("o_orderkey", 3) == 0, F.col("o_totalprice").cast("string")).alias(
            "daily_budget"
        ),
        F.when(_m("o_orderkey", 2) == 0, (F.col("o_totalprice") * 2).cast("string")).alias(
            "lifetime_budget"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("start_time"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("end_time"),
    )
    return S.sanitize_adset_payload(shaped, F.lit(CLAMP_NOW).cast("timestamp"))


def sanitize_nested_struct(orders: DataFrame) -> DataFrame:
    """F12: recursive sanitize through a 3-level nested payload
    (budgets + timestamps + string collections + booleans at every
    level, incl. inside an array of structs) via the plan-time schema
    walk in ``plans.struct_rules`` — the engine-side equivalent of the
    reference's depth-first ``sanitize_payload`` (reference
    src/utils/api_helpers.py:268-279). Serialized to JSON for the
    oracle (both engines emit identical compact JSON).
    """
    orders = spread(orders)  # compute-bound: fan the 1-split fixture scan to core count
    from ad_data_lake_spark.plans import struct_rules

    key = F.col("o_orderkey").cast("string")
    iso_end = F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    payload = F.struct(
        key.alias("id"),
        F.concat(F.lit("  "), F.col("o_totalprice").cast("string")).alias("daily_budget"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("start_time"),
        F.concat(F.lit('["'), F.col("o_orderpriority"), F.lit('"]')).alias(
            "special_ad_categories"
        ),
        F.struct(
            F.concat(F.lit("px_"), F.col("o_custkey").cast("string")).alias("pixel_id"),
            F.struct(
                F.col("o_orderpriority").alias("event_name"),
                F.when(_m("o_orderkey", 2) == 0, F.lit("YES"))
                .otherwise(F.lit("no"))
                .alias("is_active"),
            ).alias("custom_event"),
        ).alias("promoted_object"),
        F.array(
            F.struct(
                F.concat(F.lit("as1_"), key).alias("id"),
                (F.col("o_totalprice") * 2).cast("string").alias("lifetime_budget"),
                iso_end.alias("end_time"),
            ),
            F.struct(
                F.concat(F.lit("as2_"), key).alias("id"),
                (F.col("o_totalprice") + 13).cast("string").alias("lifetime_budget"),
                iso_end.alias("end_time"),
            ),
        ).alias("adsets"),
    )
    shaped = orders.select("o_orderkey", payload.alias("payload"))
    out = struct_rules.sanitize_payload(shaped, "payload", F.lit(CLAMP_NOW).cast("timestamp"))
    return out.select("o_orderkey", F.to_json("payload").alias("payload_json"))


def sanitize_campaign(orders: DataFrame) -> DataFrame:
    """The composite write-contract transform over a campaign-shaped
    projection — the engine-side equivalent of running the reference's
    ``sanitize_payload(payload, 'campaign')`` before a POST."""
    orders = spread(orders)  # compute-bound: fan the 1-split fixture scan to core count
    shaped = orders.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.when(_m("o_orderkey", 3) == 0, F.col("o_totalprice").cast("string")).alias(
            "daily_budget"
        ),
        F.when(_m("o_orderkey", 2) == 0, (F.col("o_totalprice") * 2).cast("string")).alias(
            "lifetime_budget"
        ),
        F.when(_m("o_orderkey", 4) == 3, F.col("o_totalprice").cast("string"))
        .otherwise(F.lit("0"))
        .alias("spend_cap"),
        F.when(
            _m("o_orderkey", 3) == 0, F.concat(F.lit('["'), F.col("o_orderpriority"), F.lit('"]'))
        )
        .when(_m("o_orderkey", 3) == 1, F.col("o_orderpriority"))
        .alias("special_ad_categories"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("start_time"),
    )
    out = S.sanitize_campaign_payload(shaped, F.lit(CLAMP_NOW).cast("timestamp"))
    return out.withColumn("special_ad_categories", F.concat_ws("|", "special_ad_categories"))


def json_decode_ingest(orders: DataFrame) -> DataFrame:
    """S11: JSON decode at ingest. The reference converts SDK objects
    to plain dicts at every fetch boundary (reference
    src/extractors/api_extractor.py:12-50); the Spark-side equivalent
    is schema'd ``from_json`` at the scan — one parse per row, typed
    columns out, malformed rows surfacing as nulls (PERMISSIVE).
    Payloads are built deterministically from orders, parsed with an
    explicit nested schema, and projected back to typed columns."""
    key = F.col("o_orderkey").cast("string")
    raw = F.concat(
        F.lit('{"id":"'), key,
        F.lit('","status":"'), F.col("o_orderstatus"),
        F.lit('","creative":{"id":"cr_'), key,
        F.lit('","image_hash":"'), F.md5(F.col("o_orderpriority")),
        F.lit('"},"spend":'), F.col("o_totalprice").cast("string"),
        F.lit(',"tags":["'), F.col("o_orderpriority"), F.lit('"]}')
    )
    schema = (
        "struct<id:string,status:string,"
        "creative:struct<id:string,image_hash:string>,"
        "spend:double,tags:array<string>>"
    )
    obj = F.from_json(raw, schema)
    # parse ONCE per row via inline(array(obj)) — per-column getField on a
    # CodegenFallback JsonToStructs re-parses per output column (5x cost)
    orders = spread(orders)  # compute-bound: fan the 1-split fixture scan to core count
    return orders.select("o_orderkey", F.inline(F.array(obj))).select(
        "o_orderkey",
        F.col("id").alias("obj_id"),
        "status",
        F.col("creative").getField("id").alias("creative_id"),
        F.col("creative").getField("image_hash").alias("image_hash"),
        F.round(F.col("spend"), 2).alias("spend"),
        F.element_at(F.col("tags"), 1).alias("tag0"),
    )


def fn_brand_safety(customer: DataFrame) -> DataFrame:
    """F6: brand-safety list coercion with pop-on-null (reference
    src/utils/api_helpers.py:197-209). Each brand-safety field present
    in the payload is string-collection-normalized; the reference pops
    the key when normalization returns None (non-string, non-collection
    input). Engine-side the pop is plan-time type dispatch — a
    non-coercible (numeric) field compiles to a null column, and
    ``to_json`` drops null fields, reproducing the dict pop. Null /
    '' / '[]' inputs normalize to [] (kept), per the reference.
    """
    filt = (
        F.when(
            _m("c_custkey", 3) == 0,
            F.concat(F.lit('[" '), F.col("c_mktsegment"), F.lit(' ","FACEBOOK"]')),
        )
        .when(
            _m("c_custkey", 3) == 1,
            F.concat(F.col("c_name"), F.lit(" , "), F.col("c_mktsegment")),
        )
        .otherwise(F.lit("[]"))
    )
    sev = F.when(_m("c_custkey", 2) == 0, F.lit(None).cast("string")).otherwise(
        F.lit(" MEDIUM ,")
    )
    payload = F.struct(
        S.normalize_string_collection(filt).alias("brand_safety_content_filter_levels"),
        S.normalize_string_collection(sev).alias("brand_safety_content_severity_levels"),
        # numeric-typed field → non-coercible → popped (null dropped by to_json)
        F.lit(None).cast("array<string>").alias("excluded_brand_safety_content_types"),
    )
    return customer.select("c_custkey", F.to_json(payload).alias("payload_json"))


def dynamic_json_payload(events: DataFrame) -> Column:
    """Planted DRIFTED payload per event row (built identically by the
    DuckDB oracle so the sanitize itself is what the hash verifies):
    numeric strings with padding/whitespace, an id-like key, an
    empty-on-some-rows key, a per-row UNKNOWN key (``extra_K``), a
    collection needing normalization, a boolean string, an
    unparseable pseudo-number, a raw JSON number, and a nested object
    with its own drift plus a depth-3 object carrying drift of its own
    (padded number, id-like key, empty-to-drop key — all sanitized now
    that SANITIZE_DEPTH=3) and a depth-4 object plus a non-collection
    array (both below the cap, pass through verbatim)."""
    E = F.col("event_id").cast("string")
    return F.concat(
        F.lit('{"event_id":'), E,
        F.lit(',"spend":" '), (F.col("user_id") % 900).cast("string"), F.lit('.25"'),
        F.lit(',"campaign_id":"'), F.col("user_id").cast("string"), F.lit('"'),
        F.lit(',"note":"'),
        F.when(F.col("event_id") % 5 == 0, F.lit("")).otherwise(
            F.lit('says \\"hi\\"')
        ),
        F.lit('"'),
        F.lit(',"padded":"007"'),
        F.lit(',"special_ad_categories":[" HOUSING ",""," credit"]'),
        F.lit(',"extra_'), (F.col("event_id") % 3).cast("string"), F.lit('":"x"'),
        F.lit(',"flag":"true"'),
        F.lit(',"ratio":"1.2.3"'),
        F.lit(',"n_items":'), (F.col("event_id") % 40).cast("string"),
        F.lit(',"meta":{"adset_id":"'), E,
        F.lit('","budget":" '), (F.col("user_id") % 90 + 10).cast("string"),
        F.lit('.50","empty":"","deep":{"z":"'),
        (F.col("event_id") % 9).cast("string"),
        F.lit('","pad":"042","asset_id":"7","gone":"","deeper":{"q":"1"}}'),
        F.lit(',"levels":["a ",""]}'),
        F.lit("}"),
    )


def sanitize_dynamic_json_events(events: DataFrame) -> DataFrame:
    """Dynamic-JSON sanitize over drifted payloads (reference
    src/utils/api_helpers.py:268-279; drift flagged in reference
    docs/technical-spec.md:88): no schema is declared anywhere — the
    permissive map parse surfaces whatever keys each payload carries,
    the scalar rules apply to all of them (unknown keys included), and
    the result re-serializes canonically. See functions/dynamic_json
    for the full rule contract.

    Execution (r15): the rules run as ONE Arrow-batched Python pass
    (``sanitize_dynamic_json`` — json.loads + dict walk per row, zero
    shuffles, input pre-projected to the two columns the pass needs).
    The Catalyst expression form it replaced is plan-pretty but every
    per-entry rule evaluates through INTERPRETED HOF lambdas (~20
    us/row over ~25 entries x 3 nesting levels); interleaved A/B at
    sf0.1: 1.85 -> 1.10 s median, byte-identical output on every
    fixture payload at all three SFs (also pinned against the
    Catalyst reference form on adversarial payloads in
    tests/test_properties.py)."""
    from ad_data_lake_spark.functions.dynamic_json import sanitize_dynamic_json

    base = spread(events).select(
        "event_id",
        dynamic_json_payload(events).alias("payload"),
    )
    return sanitize_dynamic_json(base, "payload", "sanitized")
