"""Reference forms the library's kernels are pinned against.

Each function here computes the same values as a library kernel by a
different route, and exists only so a test can compare the two:

- ``sanitize_json_fragment``: the dynamic-JSON sanitize rules as one
  Catalyst column expression (``from_json(col, "map<string,string>")``
  → per-entry rule CASE → ``array_sort`` → ``concat``), the reference
  for the Arrow pass in ``functions/dynamic_json``. Depth is expanded
  by Python-side expression recursion. Jackson's ALLOW_SINGLE_QUOTES is
  on in ``from_json``, so this form parses single-quoted payloads that
  the strict-JSON library contract passes through verbatim.
- ``simhash_jvm``: the packed-vote JVM aggregate, the reference for
  the Arrow kernel behind ``llm.dedup.simhash``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ad_data_lake_spark.functions.dynamic_json import (
    COLLECTION_KEYS,
    DEC_RE,
    INT_RE,
    NUMERIC_EXCLUSIONS,
    SANITIZE_DEPTH,
)
from ad_data_lake_spark.llm.dedup import SIMHASH_BITS
from ad_data_lake_spark.llm.text import words
from ad_data_lake_spark.sources.tables import spread


def _quote(v: Column) -> Column:
    esc = F.regexp_replace(
        F.regexp_replace(v, F.lit(r"\\"), F.lit(r"\\\\")),
        F.lit('"'),
        F.lit(r'\\"'),
    )
    return F.concat(F.lit('"'), esc, F.lit('"'))


def _norm_collection(v: Column) -> Column:
    """String-collection normalization on a raw array fragment: parse
    permissively (scalars coerce to strings identically in both
    engines), trim, drop empties, keep order, re-render."""
    elems = F.from_json(v, "array<string>")
    kept = F.filter(
        F.transform(elems, lambda x: F.trim(x)),
        lambda x: x.isNotNull() & (x != ""),
    )
    rendered = F.concat(
        F.lit("["),
        F.concat_ws(",", F.transform(kept, _quote)),
        F.lit("]"),
    )
    # unparseable fragment (from_json -> null): verbatim
    return F.when(elems.isNull(), v).otherwise(rendered)


def _render_value(key: Column, v: Column, depth: int) -> Column:
    """JSON rendering of one (key, raw-value-string) pair; NULL means
    'drop this key'."""
    t = F.trim(v)
    is_obj = t.startswith("{")
    is_arr = t.startswith("[")
    id_like = (
        key.isin(*NUMERIC_EXCLUSIONS)
        | key.endswith("_id")
        | key.endswith("_ids")
    )
    out = (
        F.when(v.isNull() | (t == ""), F.lit(None).cast("string"))
        .when(is_obj, sanitize_json_fragment(v, depth - 1) if depth > 1 else v)
        .when(is_arr & key.isin(*COLLECTION_KEYS), _norm_collection(v))
        .when(is_arr, v)
        .when(id_like, _quote(v))
        .when(t.rlike(INT_RE), t.cast("bigint").cast("string"))
        .when(t.rlike(DEC_RE), t)
        .when(t.isin("true", "false"), t)
        .otherwise(_quote(v))
    )
    return out


def sanitize_json_fragment(col: Column, depth: int = SANITIZE_DEPTH) -> Column:
    """Sanitize one JSON-object fragment (string column) → canonical
    sanitized JSON string. Invalid JSON (map parse fails) passes
    through unchanged rather than erroring."""
    entries = F.map_entries(F.from_json(col, "map<string,string>"))
    rendered = F.filter(
        F.transform(
            entries,
            lambda e: F.struct(
                e["key"].alias("k"), _render_value(e["key"], e["value"], depth).alias("r")
            ),
        ),
        lambda s: s["r"].isNotNull(),
    )
    body = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(rendered),
            lambda s: F.concat(F.lit('"'), s["k"], F.lit('":'), s["r"]),
        ),
    )
    return F.when(entries.isNull(), col).otherwise(
        F.concat(F.lit("{"), body, F.lit("}"))
    )


# Packed-count layout for the simhash majority vote: each bigint
# accumulator carries SIMHASH_PACK counts in SIMHASH_FIELD_BITS-bit
# fields, so a field saturates only past 2^20-1 (~1M) tokens in one
# document.
SIMHASH_FIELD_BITS = 20
SIMHASH_PACK = 3


def simhash_jvm(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """The packed-vote JVM aggregate. The vote is PACKED: the per-bit
    ±1 sum is equivalent to comparing 2×(count of tokens with bit b
    set) against the token count, and bit-counts are non-negative, so
    ``SIMHASH_PACK`` of them ride in disjoint 20-bit fields of ONE
    bigint sum; integer sums are order-independent, so the fingerprint
    is exactly the per-row array formulation's value."""
    toks = spread(corpus).select(
        "doc_id", F.explode(words(F.col("text"))).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
    hashed = toks.select("doc_id", h.alias("h"))
    n_longs = -(-bits // SIMHASH_PACK)
    aggs = [F.count("*").alias("_n")]
    for g in range(n_longs):
        packed = None
        for i in range(SIMHASH_PACK):
            b = g * SIMHASH_PACK + i
            if b >= bits:
                break
            term = F.when(
                F.col("h").bitwiseAND(F.lit(1 << b)) != 0,
                F.lit(1 << (SIMHASH_FIELD_BITS * i)),
            ).otherwise(F.lit(0))
            packed = term if packed is None else packed + term
        aggs.append(F.sum(packed).alias(f"_p{g}"))
    grouped = hashed.groupBy("doc_id").agg(*aggs)
    mask = (1 << SIMHASH_FIELD_BITS) - 1
    fingerprint = None
    for g in range(n_longs):
        for i in range(SIMHASH_PACK):
            b = g * SIMHASH_PACK + i
            if b >= bits:
                break
            cnt = F.shiftrightunsigned(
                F.col(f"_p{g}"), SIMHASH_FIELD_BITS * i
            ).bitwiseAND(F.lit(mask))
            # vote_b = 2*cnt - n; >= 0 keeps the original tie rule
            term = F.when(2 * cnt >= F.col("_n"), F.lit(1 << b)).otherwise(F.lit(0))
            fingerprint = term if fingerprint is None else fingerprint + term
    return grouped.select("doc_id", fingerprint.cast("long").alias("simhash"))
