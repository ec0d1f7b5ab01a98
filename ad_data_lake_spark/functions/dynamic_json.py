"""Dynamic-JSON sanitize (SURVEY §1.4 raw-JSON fallback; reference
src/utils/api_helpers.py:268-279): the reference's recursive payload
sanitizer walks ARBITRARY dict trees — applying its scalar rules to
whatever keys exist — because the Graph API drifts (unknown keys, wrong
types; drift is called out in reference docs/technical-spec.md:88).
The schema-driven F12 operator (operators/sanitize_queries.py) covers
the STABLE payload skeleton; this module covers the drifted remainder
without declaring any schema at all.

Contract shape: a permissive map parse — every top-level key survives,
scalars arrive as bare strings, nested objects/arrays as compact JSON
fragments (what ``from_json(col, "map<string,string>")`` yields, and
what the DuckDB oracle's ``json_extract_string`` view mirrors) — then
the rules below per entry, recursing into nested objects for
``SANITIZE_DEPTH`` levels (default 3): below it, object fragments pass
through verbatim (API payloads are depth ≤ 3 in practice, reference
fixtures included).

Sanitize contract (the reference's ``_apply_dict_rules`` re-expressed
deterministically for cross-engine value verification):
- input is STRICT JSON: a payload that does not parse as a JSON object
  (invalid JSON, a bare scalar or array, single-quoted strings such as
  ``{'sq': '1'}``) passes through verbatim — drift never kills the
  batch, the reference's try/except posture;
- null / empty-after-trim scalars are DROPPED (the rule the reference
  applies to start_time/stop_time/empty strings);
- id-like keys (``*_id``/``*_ids`` or the reference's
  ``numeric_exclusions`` set) are NEVER autocast — kept as strings;
- digit strings (optionally signed, ≤18 digits) autocast to integers
  (leading zeros stripped by the cast, as Python ``int()`` does);
- clean decimal strings (``-?\\d+.\\d+``) are unquoted in place; the
  exotic-notation tail ("1e3", "inf") stays quoted — the reference's
  ``float()`` accepts those, but their re-rendering is engine-specific
  so the contract here keeps them strings (documented divergence);
- ``true``/``false`` strings coerce to JSON booleans (F10's rule);
- the reference's collection fields (``special_ad_categories``, the
  brand-safety triple) normalize as string collections: elements
  trimmed, empties dropped, order kept;
- other arrays and below-depth objects pass through verbatim;
- output keys are SORTED — a canonical serialization both engines
  agree on (the reference keeps dict order; sorting is the
  deterministic equivalent).

Execution: ONE Arrow-batched Python pass (``mapInPandas``; one
``json.loads`` + a dict walk per row, zero shuffles). A Catalyst
expression form of the same rules (tests/reference_forms.py) evaluates
every per-entry rule through interpreted higher-order-function lambdas
(~20 us/row at ~25 entries over 3 nesting levels); the tests pin this
pass byte-identical to it on an adversarial corpus. The same call
serves batch frames and Structured Streaming micro-batches.

Byte-compatibility notes (the permissive map parse, reproduced):
- non-string scalars render as their canonical token text (booleans
  ``true``/``false``, integers unchanged) and nested objects/arrays as
  their COMPACT re-rendered fragment; a non-canonical float literal
  inside a passthrough fragment (``1.50``) re-renders shortest-repr
  (``1.5``) — the fixture generator emits none, and the oracle pins
  the domain.
- trim strips 0x20 spaces only → ``str.strip(" ")``.
- key ordering is UTF-8 byte order == Python code-point order.
- the INT/DEC patterns are ^..$-anchored → ``re.fullmatch``.
- NaN / Infinity / -Infinity literals parse (Jackson's
  ALLOW_NON_NUMERIC_NUMBERS) and render as QUOTED strings via the
  ``_JConst`` sentinel.
- quoted strings re-escape only backslash and quote — the payload
  domain (API field values) carries no control characters.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame

# reference src/utils/api_helpers.py numeric_exclusions
NUMERIC_EXCLUSIONS = (
    "id",
    "account_id",
    "campaign_id",
    "adset_id",
    "creative_id",
    "parent_id",
    "existing_creative_id",
)
# reference fields run through _normalize_string_collection
COLLECTION_KEYS = (
    "special_ad_categories",
    "brand_safety_content_filter_levels",
    "brand_safety_content_severity_levels",
    "excluded_brand_safety_content_types",
)
INT_RE = r"^-?[0-9]{1,18}$"
DEC_RE = r"^-?[0-9]+\.[0-9]+$"
# Recursion depth: levels of nested objects that get the scalar rules
# (the reference recurses unboundedly, api_helpers.py:268-279). The
# cap is a contract constant, not a semantic one — raise it and the
# DuckDB oracle regenerates in lockstep from it. Depth 3 covers the
# deepest drift observed in reference fixtures (payload → meta →
# deep); objects below the cap pass through verbatim.
SANITIZE_DEPTH = 3

_INT_RE = re.compile(INT_RE)
_DEC_RE = re.compile(DEC_RE)
_EXCL = frozenset(NUMERIC_EXCLUSIONS)
_COLL = frozenset(COLLECTION_KEYS)


class _JConst(str):
    """NaN / Infinity / -Infinity literal: the map parse yields the
    quoted string ``"NaN"`` (quotes included) as the VALUE, and nested
    fragments re-render it as the same quoted string."""


class _JObj:
    """Parsed JSON object as a PAIR LIST: the map parse keeps duplicate
    keys and every occurrence goes through the rules — a plain dict
    would silently keep only the last (``{"dup":1,"dup":2}`` sanitizes
    to both entries, sorted by (key, rendered value))."""

    __slots__ = ("pairs",)

    def __init__(self, pairs):
        self.pairs = pairs


def _parse_constant(s: str) -> _JConst:
    return _JConst(s)


def _loads(raw: str):
    return json.loads(
        raw, parse_constant=_parse_constant, object_pairs_hook=_JObj
    )


def _jstr(s: str) -> str:
    return json.dumps(s, ensure_ascii=False)


def _render_json(x) -> str:
    """Compact re-render of a parsed tree — the fragment string the map
    parse yields for nested objects/arrays."""
    if isinstance(x, _JObj):
        return "{" + ",".join(
            _jstr(k) + ":" + _render_json(v) for k, v in x.pairs
        ) + "}"
    if isinstance(x, list):
        return "[" + ",".join(_render_json(e) for e in x) + "]"
    if isinstance(x, _JConst):
        return '"' + x + '"'
    if x is None:
        return "null"
    if x is True:
        return "true"
    if x is False:
        return "false"
    if isinstance(x, str):
        return _jstr(x)
    if isinstance(x, int):
        return str(x)
    return json.dumps(x)  # floats: shortest-repr (see module notes)


def _vstr(x) -> str:
    """The string the map parse yields for a parsed JSON value (strings
    pass through decoded; containers render compact; booleans
    lowercase; non-numeric number literals arrive quoted)."""
    if isinstance(x, _JConst):
        return '"' + x + '"'
    if isinstance(x, str):
        return x
    if x is True:
        return "true"
    if x is False:
        return "false"
    if isinstance(x, (_JObj, list)):
        return _render_json(x)
    if isinstance(x, int):
        return str(x)
    return json.dumps(x)  # floats: shortest-repr


def _quote(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _norm_collection(x: list) -> str:
    kept = []
    for e in x:
        if e is None:
            continue
        t = _vstr(e).strip(" ")
        if t != "":
            kept.append(_quote(t))
    return "[" + ",".join(kept) + "]"


def _render_value(key: str, x, depth: int) -> str | None:
    """JSON rendering of one (key, parsed value) pair; None means 'drop
    this key'. Structural containers take the tree branches directly (a
    parsed _JObj/list is what the map parse would re-render as a
    fragment and the rules would re-parse — same bytes out); string
    scalars that merely LOOK like objects/arrays still go through the
    parse."""
    if x is None:
        return None
    if isinstance(x, _JObj):
        # the compact render always starts with "{": the object branch
        return _sanitize_obj(x, depth - 1) if depth > 1 else _render_json(x)
    if isinstance(x, list):
        if key in _COLL:
            return _norm_collection(x)
        return _render_json(x)
    v = _vstr(x)
    t = v.strip(" ")
    if t == "":
        return None
    if t.startswith("{"):
        return _sanitize(v, depth - 1) if depth > 1 else v
    if t.startswith("["):
        if key in _COLL:
            # parseable arrays normalize, anything else passes verbatim
            try:
                arr = _loads(v)
            except ValueError:
                return v
            if not isinstance(arr, list):
                return v
            return _norm_collection(arr)
        return v
    if key in _EXCL or key.endswith("_id") or key.endswith("_ids"):
        return _quote(v)
    if _INT_RE.fullmatch(t):
        return str(int(t))
    if _DEC_RE.fullmatch(t):
        return t
    if t in ("true", "false"):
        return t
    return _quote(v)


def _sanitize_obj(obj: _JObj, depth: int) -> str:
    """Rule application over a parsed object's pair list. Rendered
    entries sort by (key, rendered value); duplicate keys both
    survive."""
    rendered = []
    for k, x in obj.pairs:
        r = _render_value(k, x, depth)
        if r is not None:
            rendered.append((k, r))
    rendered.sort()
    return "{" + ",".join('"' + k + '":' + r for k, r in rendered) + "}"


def _sanitize(raw: str, depth: int = SANITIZE_DEPTH) -> str:
    """Sanitize one JSON-object payload string → canonical sanitized
    JSON string. Input that does not parse as a JSON object passes
    through unchanged."""
    try:
        obj = _loads(raw)
    except ValueError:
        return raw
    if not isinstance(obj, _JObj):
        return raw
    return _sanitize_obj(obj, depth)


def sanitize_dynamic_json(
    df: DataFrame, json_col: str = "payload", out_col: str = "sanitized"
) -> DataFrame:
    """Apply the dynamic sanitize to a raw JSON string column — the
    drift-tolerant ingest step: no schema declared, every key the
    payload happens to carry gets the scalar rules, unknown keys
    survive. Every input column passes through and ``out_col`` is set
    as ``withColumn`` would (replaced in place if present, else
    appended); null payloads stay null. Works on batch and streaming
    frames alike."""
    from pyspark.sql.types import StringType, StructField, StructType

    out = StructField(out_col, StringType())
    fields = [out if f.name == out_col else f for f in df.schema.fields]
    if out_col not in df.columns:
        fields.append(out)

    def run(batches: Iterator) -> Iterator:
        san = _sanitize  # local bind
        for pdf in batches:
            pdf = pdf.copy(deep=False)
            pdf[out_col] = [
                None if p is None else san(p) for p in pdf[json_col]
            ]
            yield pdf

    return df.mapInPandas(run, StructType(fields))
