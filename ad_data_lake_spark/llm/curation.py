"""Dataset-curation operators a training-data pipeline runs after
cleaning/dedup: deterministic split assignment, token-budget sequence
packing, and benchmark-contamination checks.

Scale design (100 TB):
- split assignment is a pure projection on a content-stable hash — no
  shuffle, no state, reproducible run-to-run and engine-to-engine;
- sequence packing partitions by shard and runs ONE window cumsum per
  shard — bins never cross shards, so packing 100 TB is exactly as
  parallel as the shard count, and the window never sees more than one
  shard's rows;
- contamination joins the corpus's exploded shingle hashes against the
  (small) benchmark shingle set — the benchmark side broadcasts, the
  corpus side never shuffles; cost is one scan of the corpus shingles.

Hashes are md5-derived (cross-engine reproducible) so every operator
here is value-verified by the DuckDB oracle; swap a ``hash_family``
the way llm/dedup.py does when pinning to the JVM is acceptable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ad_data_lake_spark.llm.dedup import doc_distinct_shingle_h60s
from ad_data_lake_spark.llm.text import words

# (name, cumulative upper bound in percent): 90/5/5
SPLIT_BOUNDS: tuple[tuple[str, int], ...] = (("train", 90), ("val", 95), ("test", 100))

PACK_BUDGET = 2048  # tokens per packed sequence (context-window analogue)
PACK_SHARDS = 8

BENCHMARK_MOD = 41  # every 41st doc plays the held-out benchmark set


def _index_range(arr_col: str) -> Column:
    """1..size(arr) as an array, empty when the array is empty —
    ``sequence(1, 0)`` would DESCEND to [1, 0] and downstream
    element_at(w, 0) raises. ``words()`` currently never returns an
    empty array (whitespace text yields [""]), but the rebuild must not
    depend on that tokenizer detail."""
    w = F.col(arr_col)
    return F.when(F.size(w) >= 1, F.sequence(F.lit(1), F.size(w))).otherwise(
        F.array().cast("array<int>")
    )


def _rebuild_or_passthrough(cleaned: Column) -> Column:
    """Token-rebuild tail shared by the span removers: for documents
    with NO covered positions — the overwhelming majority of any real
    corpus — the interpreted element_at-per-token HOF rebuild is the
    identity join of the token array, which equals one codegen
    ``regexp_replace(trim(text), '\\s+', ' ')`` (``words`` splits the
    trimmed text on the same Java ``\\s+`` class, and ``concat_ws``
    re-joins with single spaces; null text coalesces to '' exactly as
    concat_ws over a null array does). CASE WHEN short-circuits per
    row, so only genuinely-edited documents pay the per-token HOF
    (r14: exact_substring_dedup 3.83 s → 3.57 s median at sf0.1,
    values identical). Expects ``text``, ``w`` and the coalesced
    ``covered`` columns in scope."""
    return F.when(
        F.size("covered") == 0,
        F.coalesce(F.regexp_replace(F.trim("text"), r"\s+", " "), F.lit("")),
    ).otherwise(F.concat_ws(" ", cleaned))


def _id_hash_pct(id_col: Column) -> Column:
    """Deterministic 0–99 bucket from md5 of the id — the split lever.
    Content-stable: a document keeps its split across reruns, engines,
    and (unlike row_number schemes) upstream re-partitioning."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 7), 16, 10).cast("long")
        % 100
    )


def _split_expr(pct: Column) -> Column:
    """Split name for a 0–99 hash bucket — the pure expression behind
    ``split_assign``, reusable inline wherever the split is needed
    WITHOUT joining a projection of the same row back on doc_id."""
    expr = F.lit(None).cast("string")
    for name, bound in reversed(SPLIT_BOUNDS):
        expr = F.when(pct < bound, F.lit(name)).otherwise(expr)
    return expr


def split_assign(documents: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by hashed
    doc_id. One projection; the per-split counts any consumer needs are
    a groupBy away (``split_summary``)."""
    pct = _id_hash_pct(F.col("doc_id"))
    return documents.select(
        "doc_id", pct.alias("split_pct"), _split_expr(pct).alias("split")
    )


def split_summary(documents: DataFrame) -> DataFrame:
    """Per-split document and token totals — the sanity sheet cut
    before training. The split is a pure projection of the same row
    (hash of doc_id), so it computes INLINE: one scan + one small
    aggregate, zero joins — at 100 TB the join-back this replaces was a
    full-corpus shuffle that never needed to exist."""
    return (
        documents.select(
            _split_expr(_id_hash_pct(F.col("doc_id"))).alias("split"),
            F.size(words(F.col("text"))).alias("_nt"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
        )
        .orderBy("split")
    )


def pack_sequences(
    documents: DataFrame,
    budget: int = PACK_BUDGET,
    n_shards: int = PACK_SHARDS,
) -> DataFrame:
    """Token-budget sequence packing: assign consecutive documents
    (hash-sharded, doc_id order within shard) to fixed-budget bins —
    the streaming first-fit approximation every LLM data loader uses:
    a document goes to the bin its running token offset falls in, so
    bins hold consecutive docs and a doc may straddle a boundary
    (loaders split or pad there; the assignment is what the engine
    owns).

    One window cumsum per shard — shards are independent, so the
    operator parallelizes by shard count at any scale and the window
    state never exceeds one shard."""
    n_tok = F.size(words(F.col("text")))
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10).cast(
            "long"
        )
        % n_shards
    )
    base = documents.select(
        "doc_id", shard.alias("shard"), n_tok.alias("n_tokens")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("tok_start")
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        start,
        F.floor((cum - F.col("n_tokens")) / budget).cast("long").alias("bin_id"),
        ((cum - F.col("n_tokens")) % budget).cast("long").alias("bin_offset"),
    )


BALANCE_SHARDS = 8
BALANCE_GROUPS = 4


def shard_assign(
    documents: DataFrame,
    n_shards: int = BALANCE_SHARDS,
    n_groups: int = BALANCE_GROUPS,
) -> DataFrame:
    """Size-BALANCED shard assignment for training export — the step
    before ``pack_sequences`` when shards must finish together on a
    synchronous trainer (a shard 10% heavier than its peers idles the
    whole data-parallel group 10% of every epoch).

    Algorithm: serpentine sorted round-robin (the streaming LPT
    approximation) — docs sort by token count DESC within a group and
    deal out boustrophedon (0..N-1 then N-1..0), so each round of 2N
    docs contributes equal rank-bias to every shard; imbalance is
    bounded by one round's token spread per group rather than growing
    with corpus size. The sort is per-GROUP (doc_id mod n_groups), not
    global: each group's window sorts 1/n_groups of the corpus in
    parallel and the serpentine property holds within every group, so
    there is no global-order bottleneck at any scale — groups are the
    parallelism knob (set n_groups ~ cluster cores at 100 TB).

    Output: one row per document (doc_id, n_tokens, shard). Balance is
    pinned in pytest (max/min shard token totals); the DuckDB oracle
    reproduces the exact assignment, tie-breaks included."""
    n_tok = F.size(words(F.col("text")))
    base = documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (F.col("doc_id") % n_groups).alias("grp"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    rn = F.row_number().over(w) - 1
    pos = rn % (2 * n_shards)
    shard = F.when(pos < n_shards, pos).otherwise(2 * n_shards - 1 - pos)
    return base.select("doc_id", "n_tokens", shard.cast("long").alias("shard"))


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    benchmark_mod: int = BENCHMARK_MOD,
) -> DataFrame:
    """Benchmark contamination: per corpus document, the fraction of
    its distinct 3-gram shingle hashes that appear anywhere in the
    benchmark set. ``benchmark`` defaults to every ``benchmark_mod``-th
    document (the deterministic stand-in for a real eval suite);
    benchmark members are excluded from the scored corpus.

    Join shape: the benchmark's distinct shingle-hash set is tiny
    relative to the corpus (eval suites are MBs against TBs) and
    broadcasts; the corpus's exploded shingles stream past it in one
    scan — no corpus shuffle until the per-doc count aggregate on
    doc_id, whose input is one row per (doc, distinct shingle).

    Precondition: ``doc_id`` is unique per corpus row (see
    ``dedup.doc_distinct_shingle_h60s``); duplicate rows inflate
    ``n_shingles`` and ``n_shared``."""
    if benchmark is None:
        benchmark = corpus.where(F.col("doc_id") % benchmark_mod == 0)
        corpus = corpus.where(F.col("doc_id") % benchmark_mod != 0)
    bench_hashes = (
        doc_distinct_shingle_h60s(benchmark).select("h60").distinct()
    )
    # ONE join, one count aggregate (r15): the Arrow kernel emits the
    # corpus stream ALREADY distinct per (doc_id, h60) — a document is
    # row-atomic, so per-doc np.unique IS the pair dedup — which
    # removes both the JVM md5-per-occurrence explode and the
    # (doc_id, h60) dedup-aggregate EXCHANGE the r11 shape paid. The
    # broadcast LEFT join marks each distinct pair with a hit flag,
    # then plain count/count_if per doc_id.
    doc_hashes = doc_distinct_shingle_h60s(corpus)
    marked = doc_hashes.join(
        F.broadcast(bench_hashes.withColumn("_hit", F.lit(True))), "h60", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count_if(F.col("_hit")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 4).alias(
                "contamination"
            ),
        )
    )


def curation_pipeline(documents: DataFrame) -> DataFrame:
    """End-to-end corpus curation — the LLM-layer analogue of
    pipeline.daily_extract_pipeline: quality-filter (keep band), exact
    dedup (keep the min doc_id per content hash), split assignment,
    per-split doc/token summary. One composed lazy plan, and — because
    quality and split are pure projections of the row they describe —
    they compute INLINE (``quality_columns``/``_split_expr``): the only
    shuffle-join in the whole pipeline is the dedup semi join against
    the min-doc_id-per-content-hash winners, which is the one step that
    genuinely needs cross-row context. (Former shape joined the quality
    and split projections back on doc_id — two full-corpus joins that
    broadcast for free at sf0.1 and dominate at 100 TB; asserted gone
    in tests/test_plans.py.)"""
    from ad_data_lake_spark.llm.dedup import content_hash
    from ad_data_lake_spark.llm.text import quality_columns

    qc = quality_columns(F.col("text"))
    kept = documents.select(
        "doc_id", "text", qc["n_tokens"].alias("n_tokens")
    ).where(qc["keep"])
    keep_ids = (
        kept.select(content_hash(F.col("text")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    final = kept.join(keep_ids.select("doc_id"), "doc_id", "semi")
    return (
        final.select(
            _split_expr(_id_hash_pct(F.col("doc_id"))).alias("split"), "n_tokens"
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("split")
    )


# keep-rate (percent) by source tier (tier = source index // 5): the
# domain-mixture weights a pretraining recipe assigns — oversample the
# high-quality tier, heavily downsample the bulk tail
MIXTURE_RATES: tuple[int, ...] = (100, 50, 20, 5)


def mixture_sample(documents: DataFrame) -> DataFrame:
    """Weighted domain-mixture sampling: each source tier keeps a
    deterministic hash fraction of its documents (doc-stable — the
    same md5 pct bucket as ``split_assign``, so a doc's inclusion
    never depends on which other docs are present). Returns the
    per-source audit sheet (rate, total, kept); the row-level keep
    predicate is the same ``pct < rate`` projection.

    Scale: a pure projection + one small aggregate — the mixture is
    applied at scan time (predicate on a computed column), never by
    materializing intermediate samples."""
    idx = F.substring(F.col("source"), 4, 10).cast("int")
    tier = F.least(F.floor(idx / 5).cast("int"), F.lit(len(MIXTURE_RATES) - 1))
    rate = F.element_at(
        F.array(*[F.lit(r) for r in MIXTURE_RATES]), tier + F.lit(1)
    )
    pct = _id_hash_pct(F.col("doc_id"))
    return (
        documents.select("source", rate.alias("rate"), pct.alias("pct"))
        .groupBy("source", "rate")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("pct") < F.col("rate")).alias("n_kept"),
        )
        .orderBy("source")
    )


# Temperature resampling: keep-rate exponent (r_s ∝ size_s^(TEMP_ALPHA-1),
# the α of p_s ∝ size_s^α in multilingual/multi-domain pretraining
# recipes — α<1 flattens the natural distribution toward uniform).
TEMP_ALPHA = 0.5
_TEMP_SCALE = 1_000_000


def temperature_mixture(documents: DataFrame, alpha: float = TEMP_ALPHA) -> DataFrame:
    """Temperature-based domain rebalancing (the mT5/XLM-R sampling
    rule, α<1): a source's target share is proportional to size^α, so
    its per-document keep rate is (min_size / size_s)^(1-α) — the
    SMALLEST source keeps everything and larger sources downsample
    toward a flatter mixture. Differs from ``mixture_sample`` (declared
    per-tier rates) in that the rates are DERIVED from observed source
    sizes — the recipe adapts as the corpus shifts. Size = total chars
    (n_chars), the token-budget proxy mixture recipes actually balance.

    Keep decision is doc-stable: md5-hash bucket of doc_id in
    [0, 1e6) compared against floor(rate·1e6) — integer arithmetic on
    both engines, so the kept set is exact, not approximately sampled.

    Scale: one source-keyed aggregate (bounded by source cardinality)
    broadcast back over the corpus scan; the keep predicate is a
    scan-time projection. No corpus shuffle.

    Output: per-source audit (size, derived rate, totals, kept) —
    the same sheet shape as ``mixture_sample``."""
    sizes = documents.groupBy("source").agg(
        F.sum("n_chars").alias("src_chars"), F.count("*").alias("n_docs")
    )
    min_chars = sizes.agg(F.min("src_chars").alias("min_chars"))
    ratio = F.col("min_chars") / F.col("src_chars")
    # sqrt is IEEE-correctly-rounded in every engine; a general pow()
    # is not (libm last-ulp drift could flip the floor at a boundary),
    # so the default α=0.5 path stays bit-identical to the oracle
    powed = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    rate6 = F.floor(powed * _TEMP_SCALE).cast("long")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        % _TEMP_SCALE
    )
    return (
        documents.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(sizes), "source")
        .crossJoin(F.broadcast(min_chars))
        .withColumn("rate6", rate6)
        .groupBy("source", "src_chars", "n_docs", "rate6")
        .agg(F.count_if(F.col("bucket") < F.col("rate6")).alias("n_kept"))
        .select("source", "src_chars", "n_docs", "rate6", "n_kept")
        .orderBy("source")
    )


# n-gram boilerplate: a 3-gram appearing in >= this many DISTINCT
# documents is corpus boilerplate; every token span it covers is
# removed. The fixture documents are single-line with no sentence
# punctuation (checked at sf0.01), so the classic line/sentence-level
# dedup re-expresses at the n-gram-span level — same two-pass
# corpus-frequency shape as C4/CCNet boilerplate cleaning.
BOILERPLATE_MIN_DOCS = 4
BOILERPLATE_N = 3


def boilerplate_ngrams(
    documents: DataFrame,
    n: int = BOILERPLATE_N,
    min_docs: int = BOILERPLATE_MIN_DOCS,
) -> DataFrame:
    """(s, n_docs): the corpus-boilerplate n-grams — shingles seen in
    at least ``min_docs`` distinct documents. Frequent-item output is
    bounded (Zipf head), which is what makes the removal pass's
    broadcast legal at any corpus size."""
    from ad_data_lake_spark.llm.text import exploded_shingles

    return (
        exploded_shingles(documents, n=n)
        .groupBy("s")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    documents: DataFrame,
    n: int = BOILERPLATE_N,
    min_docs: int = BOILERPLATE_MIN_DOCS,
) -> DataFrame:
    """Span-level boilerplate removal, two passes:

    1. corpus scan → frequent-shingle set (``boilerplate_ngrams``) —
       small (frequent-item head), broadcast;
    2. corpus scan → per-document matched positions → covered token
       set (union of each match's [pos, pos+n-1]) → rebuild the text
       from uncovered tokens.

    Output: (doc_id, n_tokens, n_removed, cleaned_text). The covered
    set is 1-based token indices; the rebuild keeps uncovered positions
    with a linear array_except — per-row bounded work, no Python.
    Scale shape: one broadcast join over exploded shingles, one doc_id
    aggregate, one corpus join on doc_id to attach the (sparse) covered
    sets — the same two-pass contract every corpus-frequency cleaner
    (CCNet/C4) runs; no all-pairs, no global sort. Both passes key on
    xxhash64 over the token TRIPLE (no shingle string is ever built —
    with fixed n the triple determines the joined string, tokens can't
    contain whitespace): the frequency shuffle and the broadcast head
    carry 8-byte longs (~4× narrower than the 3-word strings), and a
    64-bit collision (~n²/2^65) can only merge two shingles'
    doc-counts — output text is unchanged with overwhelming
    probability, verified exactly by the string-keyed DuckDB oracle.
    The (doc_id, pos, h) occurrence stream — 20 B/row, the same
    bounded carrier ``exact_substring_dedup`` materializes — is
    localCheckpointed ONCE and feeds both the frequency aggregate and
    the probe join; re-deriving it per consumer re-paid the tokenize +
    explode corpus pass twice (measured 6.5 s → 4.4 s at sf1)."""
    from ad_data_lake_spark.llm.text import words
    from ad_data_lake_spark.sources.tables import spread

    w = words(F.col("text"))
    idx = spread(documents).select(
        "doc_id",
        w.alias("_w"),
        F.explode(
            F.when(F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("pos"),
    )
    h = F.xxhash64(*[F.element_at("_w", F.col("pos") + k) for k in range(n)])
    sh = idx.select("doc_id", "pos", h.alias("h")).localCheckpoint(eager=False)
    boiler = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("h")
    )
    hits = (
        sh.join(F.broadcast(boiler), "h")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.sequence(F.col("pos"), F.col("pos") + (n - 1))
                        )
                    )
                )
            ).alias("covered")
        )
    )
    toks = documents.select("doc_id", "text", words(F.col("text")).alias("w"))
    joined = toks.join(hits, "doc_id", "left").withColumn(
        "covered", F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    )
    # rebuild from the kept POSITIONS: array_except(1..n, covered) is a
    # linear set-difference that preserves 1..n order, and element_at
    # on an array is O(1) — the per-token `filter(w, (x,i) ->
    # !array_contains(covered, i+1))` form this replaces rescanned the
    # covered list per token: O(tokens × covered) per document, noise
    # on the fixture's ~50-token docs but quadratic on real pages
    keep_idx = F.array_except(_index_range("w"), F.col("covered"))
    cleaned = F.transform(keep_idx, lambda i: F.element_at(F.col("w"), i))
    return joined.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size("covered").cast("bigint").alias("n_removed"),
        _rebuild_or_passthrough(cleaned).alias("cleaned_text"),
    )


SUBSTR_N = 6  # minimum duplicated span length, in tokens


def exact_substring_dedup(corpus: DataFrame, n: int = SUBSTR_N) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    any ``n``-token span occurring MORE THAN ONCE anywhere in the
    corpus survives only at its first occurrence (min (doc_id, pos));
    every other occurrence's tokens are removed and the text rebuilt.
    Differs from ``remove_boilerplate`` on both axes: the trigger is
    ≥2 occurrences (not ≥min_docs distinct documents), and the first
    occurrence is KEPT (boilerplate strips all copies).

    Scale shape (the suffix-array of the paper doesn't distribute; the
    fixed-``n`` shingle reduction is the standard streaming-friendly
    re-expression): occurrences carry only (doc_id, pos, h60) — 20
    bytes each, never the text — and are MATERIALIZED once
    (localCheckpoint; same bytes one shuffle of the stream would write
    to local disk), so the owner aggregate and the join-back probe
    both read it instead of re-running the scan→explode→hash pass.
    The join-back is an equi-join on h (broadcast at fixture scale
    under AQE, shuffle-on-h at 100 TB; plan-asserted equi, never
    nested-loop). Then the usual per-doc covered-union + indexed
    rebuild (remove_boilerplate's second pass). No all-pairs anywhere:
    cost scales with occurrence count × duplication rate."""
    from ad_data_lake_spark.llm.text import exploded_shingles_with_pos

    occ = exploded_shingles_with_pos(corpus, n=n).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    # materialize the occurrence stream ONCE: both the owner aggregate
    # and the join-back probe read it, and without this each consumer
    # re-runs the scan→explode→hash pass (AQE broadcasts the span side,
    # so no shared shuffle exists to reuse). The stream is 20 B/row —
    # the same bytes ONE shuffle of it would spill to local disk — so
    # write-once/read-twice strictly beats compute-twice at any scale
    # (measured 2.8 s → 1.6 s at sf0.1).
    occ = occ.localCheckpoint(eager=True)
    spans = (
        occ.groupBy("h")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("owner"),
            F.count("*").alias("n_occ"),
        )
        .where(F.col("n_occ") >= 2)
        .select("h", "owner")
    )
    dups = occ.join(spans, "h").where(
        (F.col("doc_id") != F.col("owner.doc_id"))
        | (F.col("pos") != F.col("owner.pos"))
    )
    covered = dups.groupBy("doc_id").agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.sequence(F.col("pos"), F.col("pos") + (n - 1)))
                )
            )
        ).alias("covered")
    )
    toks = corpus.select("doc_id", "text", words(F.col("text")).alias("w"))
    joined = toks.join(covered, "doc_id", "left").withColumn(
        "covered", F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    )
    keep_idx = F.array_except(_index_range("w"), F.col("covered"))
    cleaned = F.transform(keep_idx, lambda i: F.element_at(F.col("w"), i))
    return joined.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size("covered").cast("bigint").alias("n_removed"),
        _rebuild_or_passthrough(cleaned).alias("cleaned_text"),
    )


STRATA_K = 40  # documents kept per language stratum


def stratified_sample(documents: DataFrame, k: int = STRATA_K) -> DataFrame:
    """Exact-count stratified sampling: the K documents with the
    smallest md5(doc_id) key per language stratum — deterministic,
    content-stable (a doc's membership never depends on partitioning or
    arrival order), and exact where ``mixture_sample``'s rate predicate
    is fractional.

    Strata are few (languages/domains), so a window partitioned by
    stratum LOOKS like the classic low-cardinality skew trap — every
    row of a stratum on one reducer. It isn't, because Catalyst plans
    the ``row_number() <= K`` filter as a partial ``WindowGroupLimit``
    BELOW the exchange: every map partition pre-prunes to its local K
    smallest per stratum during the scan, so the shuffle carries at
    most K × map-partitions rows per stratum — bounded by the task
    count, never by corpus size — and the reducer sorts only that.
    (The hand-salted two-level top-K this replaces spent a second
    exchange to build the same bound; asserted in
    tests/test_plans.py.)"""
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    base = documents.select("doc_id", "lang", key.alias("skey"))
    w = Window.partitionBy("lang").orderBy("skey", "doc_id")
    return base.withColumn("sample_rank", F.row_number().over(w)).where(
        F.col("sample_rank") <= k
    )


SHUFFLE_SHARDS = 8
SHUFFLE_SEED = "epoch-0"


def epoch_shuffle(
    documents: DataFrame, n_shards: int = SHUFFLE_SHARDS, seed: str = SHUFFLE_SEED
) -> DataFrame:
    """Deterministic epoch shuffle + sharding: the training-order
    assignment every data loader needs — each document gets a shard, a
    position within the shard, and its token offset, all derived from
    md5(seed:doc_id) so (a) changing the seed reshuffles the epoch,
    (b) the order is reproducible run-to-run and engine-to-engine, and
    (c) no global sort exists anywhere: the ORDER is defined per shard,
    which is how loaders consume it (one reader per shard file).

    One window per shard (``pack_sequences``'s proven shape): shards
    are hash-balanced, the per-shard sort is the only ordering work,
    and parallelism equals the shard count — the knob that scales with
    corpus size."""
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col("doc_id").cast("string")))
    shard = F.conv(F.substring(key, 1, 7), 16, 10).cast("long") % n_shards
    base = documents.select(
        "doc_id",
        key.alias("_skey"),
        shard.alias("shard"),
        F.size(words(F.col("text"))).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("_skey", "doc_id")
    cum = F.sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "doc_id",
        "shard",
        F.row_number().over(w).alias("pos"),
        "n_tokens",
        (cum - F.col("n_tokens")).cast("long").alias("tok_offset"),
    )


def cross_split_leakage(documents: DataFrame) -> DataFrame:
    """Split-leakage audit: near-duplicate pairs (MinHash-LSH verified,
    same pair set as ``dedup_minhash_lsh``) annotated with each side's
    train/val/test assignment and flagged when the pair crosses a split
    boundary — the eval-integrity check run after any split: a test
    document with a near-twin in train is leaked signal.

    Costs NOTHING beyond the pair set itself: the split is a pure hash
    projection of each pair column (``_split_expr`` inline — no join
    back to the corpus, no extra shuffle)."""
    from ad_data_lake_spark.llm.corpus import dup_corpus
    from ad_data_lake_spark.llm.dedup import minhash_neardup_pairs

    pairs = minhash_neardup_pairs(dup_corpus(documents))
    split_a = _split_expr(_id_hash_pct(F.col("doc_a")))
    split_b = _split_expr(_id_hash_pct(F.col("doc_b")))
    return pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        split_a.alias("split_a"),
        split_b.alias("split_b"),
        (split_a != split_b).alias("is_leak"),
    )


def corpus_health(documents: DataFrame) -> DataFrame:
    """Per-source corpus health sheet — the per-domain audit every
    curation run publishes before training (doc/token volume, mean
    quality, filter keep-rate, exact-dup rate): the first thing a data
    engineer reads to decide which domains need re-crawling, heavier
    filtering, or dedup attention.

    One scan + ONE small aggregate: quality and the content hash are
    pure projections computed inline (the ``quality_columns`` /
    ``_split_expr`` rule — never joined back), and the distinct-hash
    count rides the same groupBy. Output is one row per source —
    dashboard-sized at any corpus scale."""
    from ad_data_lake_spark.llm.dedup import content_hash
    from ad_data_lake_spark.llm.text import quality_columns
    from ad_data_lake_spark.sources.tables import spread

    qc = quality_columns(F.col("text"))
    # the quality projection is the compute-heavy part of this scan --
    # fan out before it (no-op on production row groups)
    base = spread(documents).select(
        "source",
        qc["n_tokens"].alias("_nt"),
        qc["quality_score"].alias("_q"),
        qc["keep"].alias("_keep"),
        content_hash(F.col("text")).alias("_h"),
    )
    n_distinct = F.count_distinct("_h")
    return (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.round(F.avg("_q"), 4).alias("mean_quality"),
            F.round(F.count_if(F.col("_keep")) / F.count("*"), 4).alias(
                "keep_rate"
            ),
            n_distinct.alias("n_distinct"),
            F.round(F.lit(1) - n_distinct / F.count("*"), 4).alias("dup_rate"),
        )
        .orderBy("source")
    )


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Sliding-window document chunking: split each document's token
    stream into ``chunk_tokens``-sized windows stepping by
    ``chunk_tokens - overlap`` — the RAG/pretraining windowing op.
    Chunk count uses pure integer arithmetic (ceil-div via
    ``(n - overlap + step - 1) div step``, floored at 1) so both
    engines cut identical windows; the final chunk may be short.

    Pure per-row array work (sequence + posexplode + slice): no
    shuffle, no Python — output row count is Σ chunks, each row
    carrying only its own window's text."""
    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    w = words(F.col("text"))
    base = documents.select("doc_id", w.alias("w"), F.size(w).alias("n")).withColumn(
        "nc",
        F.greatest(F.expr(f"(n - {overlap} + {step - 1}) div {step}"), F.lit(1)),
    )
    exploded = base.select(
        "doc_id",
        "w",
        F.posexplode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_id", "_c"),
    )
    chunk = F.slice(F.col("w"), F.col("chunk_id") * step + 1, chunk_tokens)
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def streaming_corpus_ingest(spark, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion — the continuous form of the batch
    curation pipeline: documents arrive in micro-batches (file-source
    stream, one file per trigger), each batch is quality-filtered
    INLINE and upserted into a content-hash-keyed lake table via the
    exactly-once foreachBatch MERGE sink. The merge's recency rule is
    first-wins (max of -doc_id = min doc_id per content hash), so the
    FINAL table equals the batch dedup result regardless of batch
    arrival order — and a replayed micro-batch re-upserts the rows it
    already wrote (idempotent, test_lake replay contract).

    Scale: per-batch cost is batch size × affected merge buckets, never
    stream history; dedup state lives in the bucketed table itself (no
    unbounded streaming state store), which is how a production corpus
    ingest keeps an ever-growing history out of memory."""
    import os

    from ad_data_lake_spark.incremental import read_merged
    from ad_data_lake_spark.llm.corpus import dup_corpus
    from ad_data_lake_spark.llm.dedup import content_hash
    from ad_data_lake_spark.llm.text import quality_columns
    from ad_data_lake_spark.scratch import scratch_dir
    from ad_data_lake_spark.sources.tables import load_table
    from ad_data_lake_spark.streaming.incremental import stream_merge_to_table

    corpus = dup_corpus(load_table(spark, "documents", sf_dir))
    base = scratch_dir(spark, "stream-corpus", sf_dir)
    src, target, ckpt = (os.path.join(base, d) for d in ("src", "table", "ckpt"))
    # 2 source files -> 2 micro-batches: cross-batch dedup is real (the
    # duplicate offsets land in both halves) at half the per-trigger
    # fixed cost of a 4-batch drain
    corpus.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qc = quality_columns(F.col("text"))
    enriched = stream.where(qc["keep"]).select(
        "doc_id",
        "lang",
        "source",
        content_hash(F.col("text")).alias("content_hash"),
        qc["n_tokens"].alias("n_tokens"),
        (-F.col("doc_id")).alias("_first_wins"),
    )
    stream_merge_to_table(
        enriched,
        target,
        ckpt,
        "content_hash",
        "_first_wins",
        "_first_wins",
    )
    return read_merged(spark, target).select(
        "doc_id", "content_hash", "lang", "source", "n_tokens"
    )


def streaming_rare_token_scrub(spark, sf_dir: str) -> DataFrame:
    """The rare-token scrub running UNDER Structured Streaming — the
    stream-static pattern: the allowed-token vocabulary is trained once
    on the batch corpus (a static, bounded artifact) and each arriving
    micro-batch scrubs against it in-flight with the SAME Arrow pass
    the batch operator uses (stateless mapInPandas, so the streaming
    plan is the batch plan per micro-batch: no state store, no
    watermark). The oracle is the batch scrub SQL — the hash match
    proves in-flight scrubbing emits byte-identical output to the
    batch pass, the property that lets an ingest pipeline anonymize
    before data ever lands."""
    import os
    import uuid

    from ad_data_lake_spark.llm.text import (
        SCRUB_SCHEMA,
        plant_rare_handles,
        scrub_batches_fn,
        scrub_vocab_set,
    )
    from ad_data_lake_spark.scratch import scratch_dir
    from ad_data_lake_spark.sources.tables import load_table
    from ad_data_lake_spark.streaming import run_available_now

    docs = plant_rare_handles(load_table(spark, "documents", sf_dir))
    vset = scrub_vocab_set(docs)
    src = os.path.join(scratch_dir(spark, "scrub-src", sf_dir), "docs")
    # multi-file stream-source fixture (see lake_queries._stream_src_write):
    # per-batch parallelism is per-file for a file source
    docs.repartition(16).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = stream.mapInPandas(scrub_batches_fn(vset), SCRUB_SCHEMA)
    return run_available_now(
        out, f"stream_scrub_{uuid.uuid4().hex[:8]}", output_mode="append"
    )


# Weighted sampling without replacement (Efraimidis & Spirakis 2006):
# key = ln(u) / w with u ~ U(0,1); the k largest keys are an exact
# weighted sample. u comes from a 52-bit md5 slice so the draw is
# content-stable and engine-reproducible (the same determinism contract
# as stratified_sample / epoch_shuffle).
WSAMPLE_K = 50
WSAMPLE_SEED = "wsample-0"
_WSAMPLE_DENOM = float((1 << 52) + 1)


def weighted_sample(documents: DataFrame, k: int = WSAMPLE_K, seed: str = WSAMPLE_SEED) -> DataFrame:
    """Exact weighted sample of ``k`` documents with token count as the
    weight — the curation step that tilts a data mixture toward long
    documents without a global sort over weights (upsampling books vs
    boilerplate is the classic use; swap the weight expression for a
    quality score to get quality-weighted selection).

    A-ES reduces weighted sampling to a TOP-K: key_i = ln(u_i) / w_i
    (equivalently u^(1/w) — the log form avoids cross-engine pow
    drift), take the k largest. One projection computes the key, and
    Spark executes the sort+limit as TakeOrdered (per-partition heaps,
    no global sort materialization) — the same O(n) + k·log(k) shape
    at any corpus size, embarrassingly parallel, zero shuffles beyond
    the final k-row gather. Order is on the ROUNDED key then doc_id so
    last-ulp ln() drift cannot reorder engines; u is offset by +1 so
    it is never 0 (ln(0) = -inf)."""
    w = F.size(words(F.col("text")))
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), F.col("doc_id").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(_WSAMPLE_DENOM)
    key = F.round(F.log(u) / w, 7)
    base = documents.select(
        "doc_id", w.alias("n_tokens"), key.alias("es_key")
    )
    topk = base.orderBy(F.desc("es_key"), "doc_id").limit(k)
    rw = Window.orderBy(F.desc("es_key"), "doc_id")
    return topk.select(
        F.row_number().over(rw).cast("long").alias("sample_rank"),
        "doc_id",
        "n_tokens",
        "es_key",
    )


CTR_PROBES = 3
CTR_SEED = "ctr"


def contrastive_triplets(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(anchor, positive, negative) training triplets for embedding /
    reranker models: positives are the VERIFIED near-duplicate pairs
    (the MinHash-LSH pipeline — semantically-same text is the classic
    weak-positive source), negatives are content-stable hash picks
    from the base corpus, rejected if they collide with the anchor,
    the positive, or any verified near-dup of the anchor (a false
    negative would train the encoder to push true neighbors apart).

    Negative selection is DETERMINISTIC bounded probing: candidates
    (h+0, h+1, h+2) mod n_docs from a 52-bit md5 slice of the pair;
    the first valid probe wins (min probe index). A pair whose three
    probes are all invalid drops — measure-zero on real data, and the
    same rule on both engines keeps the row value-oracled.

    Scale shape: rides the near-dup pair pipeline (banded, never
    all-pairs — the cross_split_leakage pattern); adds one n_docs
    scalar attach, a 3-way probe explode on the PAIR table (pair-
    bounded, not corpus-bounded), one anti-join against the symmetric
    pair set (optimizer-chosen: broadcast at fixture scale, equi-keyed
    shuffle when the pair table outgrows it), and a min_by per pair.
    At 100 TB the pair
    table is the dedup output — already materialized by any curation
    run — so triplet mining is marginal cost."""
    from ad_data_lake_spark.llm import corpus as CP
    from ad_data_lake_spark.llm.dedup import minhash_neardup_pairs

    corpus = CP.dup_corpus(documents)
    pairs = minhash_neardup_pairs(corpus, threshold).localCheckpoint(eager=False)
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(CTR_SEED),
                    F.col("doc_a").cast("string"),
                    F.col("doc_b").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    cand = (
        pairs.crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc_a").alias("anchor_id"),
            F.col("doc_b").alias("positive_id"),
            F.posexplode(
                F.array(*[(h + F.lit(p)) % F.col("n_docs") for p in range(CTR_PROBES)])
            ).alias("probe", "negative_id"),
        )
    )
    sym = pairs.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
    ).unionByName(pairs.select(F.col("doc_b").alias("x"), F.col("doc_a").alias("y")))
    # NOT force-broadcast: the pair table is dup-volume-sized — small
    # on the fixture (AQE broadcasts it anyway) but unbounded at
    # 100 TB, where this correctly degrades to an equi-keyed
    # shuffle anti-join on (anchor, negative)
    valid = (
        cand.where(
            (F.col("negative_id") != F.col("anchor_id"))
            & (F.col("negative_id") != F.col("positive_id"))
        )
        .join(
            sym,
            (F.col("anchor_id") == F.col("x"))
            & (F.col("negative_id") == F.col("y")),
            "left_anti",
        )
    )
    return valid.groupBy("anchor_id", "positive_id").agg(
        F.min_by("negative_id", "probe").alias("negative_id"),
        F.min("probe").cast("int").alias("probe"),
    )


FIM_SEED = "fim-0"
FIM_RATE_MOD = 2  # every 2nd doc (by content-stable hash) is FIM'd — the
# paper's 50% transformation rate


def _fim_cut(doc_id_col, salt: str, span) -> "F.Column":
    """1-based cut point in [1, span] from a 52-bit md5 slice —
    content-stable, engine-reproducible (the weighted_sample u
    contract)."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.lit(FIM_SEED), F.lit(salt), doc_id_col.cast("string"))
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    return (h % span) + F.lit(1)


def fim_transform(documents: DataFrame) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022,
    arXiv:2207.14255): reorder a deterministic middle span to the end
    in PSM (prefix-suffix-middle) format — the data op that teaches a
    causal LM to infill. Half the corpus transforms (hash-selected),
    half passes through, exactly the paper's 50% FIM rate.

    Cuts are two md5-derived token positions a, b in [1, n-1];
    lo = least(a, b) ends the prefix, hi = greatest(a, b) ends the
    middle — so documents with n >= 2 tokens always produce a
    non-empty middle iff lo < hi (equal cuts degrade to pass-through,
    flagged is_fim = false, same rule both engines). Output carries
    the reassembled training text and the span token counts.

    Scale shape: a pure per-row projection — slice/concat on the
    token array, zero shuffles, trivially parallel; the same
    whole-stage-codegen contract as the text-stats family."""
    w = words(F.col("text"))
    n = F.size(w)
    # span floor of 1 keeps the modulo defined for 1-token docs (they
    # degrade to a=b=1 -> lo==hi -> pass-through, same rule in SQL)
    span = F.greatest(n - F.lit(1), F.lit(1))
    a = _fim_cut(F.col("doc_id"), "a", span)
    b = _fim_cut(F.col("doc_id"), "b", span)
    lo = F.least(a, b)
    hi = F.greatest(a, b)
    selected = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(FIM_SEED), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % FIM_RATE_MOD
        == 0
    )
    is_fim = selected & (n >= 2) & (lo < hi)
    prefix = F.slice(w, 1, lo)
    middle = F.slice(w, lo + 1, hi - lo)
    suffix = F.slice(w, hi + 1, n - hi)
    psm = F.concat_ws(
        " ",
        F.lit("<PRE>"),
        F.array_join(prefix, " "),
        F.lit("<SUF>"),
        F.array_join(suffix, " "),
        F.lit("<MID>"),
        F.array_join(middle, " "),
    )
    return documents.select(
        "doc_id",
        is_fim.alias("is_fim"),
        F.when(is_fim, psm).otherwise(F.col("text")).alias("train_text"),
        F.when(is_fim, F.size(prefix)).otherwise(n).cast("long").alias("n_prefix"),
        F.when(is_fim, F.size(middle)).otherwise(F.lit(0)).cast("long").alias("n_middle"),
        F.when(is_fim, F.size(suffix)).otherwise(F.lit(0)).cast("long").alias("n_suffix"),
    )


BUDGET_TOKENS = 100_000  # fixture-scaled training token budget
_SQ_SCALE = 1000  # sqrt quantization: integer weights -> exact integer denom


def token_budget_plan(
    documents: DataFrame, total_budget: int = BUDGET_TOKENS
) -> DataFrame:
    """Apportion a training-run token budget across sources under the
    α=0.5 temperature rule (share ∝ sqrt(available tokens) — the
    mT5/XLM-R flattening ``temperature_mixture`` applies per document,
    here at PLAN level): the sheet a run planner produces before
    sampling, with per-source quotas that sum EXACTLY to the budget
    via largest-remainder apportionment (floor the raw shares, then
    hand the leftover units to the largest fractional remainders —
    ties on source name).

    Cross-engine arithmetic contract: sqrt weights are quantized to
    integers (floor(sqrt·1000)) so the denominator is an EXACT integer
    sum (a float Σ over sources would be summation-order-dependent in
    the last ulp, and a one-ulp denominator wiggle can flip a floor at
    a quota boundary); each raw share is then one multiply + one
    divide of that integer pair — deterministic in both engines.

    Scale: one source-keyed aggregate (source-bounded output), one
    scalar attach, windows over the ≤|sources| rows. ``epochs`` > 1
    means the quota upsamples that source (multiple passes — the
    standard small-domain story)."""
    w = words(F.col("text"))
    avail = documents.groupBy("source").agg(
        F.sum(F.size(w)).alias("n_avail")
    )
    sq = F.floor(F.sqrt(F.col("n_avail")) * _SQ_SCALE).cast("long")
    weighted = avail.withColumn("sq", sq)
    denom = weighted.agg(F.sum("sq").alias("denom"))
    raw = F.col("sq") * F.lit(float(total_budget)) / F.col("denom")
    base = (
        weighted.crossJoin(F.broadcast(denom))
        .withColumn("raw", raw)
        .withColumn("quota0", F.floor(F.col("raw")).cast("long"))
        .withColumn("frac", F.col("raw") - F.floor(F.col("raw")))
    )
    all_w = Window.partitionBy(F.lit(1))
    rank_w = Window.orderBy(F.desc("frac"), F.asc("source"))
    return (
        base.withColumn("leftover", F.lit(total_budget) - F.sum("quota0").over(all_w))
        .withColumn("rnk", F.row_number().over(rank_w))
        .select(
            "source",
            "n_avail",
            (
                F.col("quota0")
                + F.when(F.col("rnk") <= F.col("leftover"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("quota"),
            F.round(
                (
                    F.col("quota0")
                    + F.when(F.col("rnk") <= F.col("leftover"), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                )
                / F.col("n_avail"),
                4,
            ).alias("epochs"),
        )
    )
