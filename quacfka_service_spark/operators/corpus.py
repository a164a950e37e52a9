"""Corpus curation + sequence packing — the end-to-end training-data ops.

``corpus_curation`` chains the pipeline a pretraining corpus actually
goes through — language ID -> quality filter -> near-dup removal ->
split assignment — as ONE declarative plan, proving the individual
operators (text.py, dedup.py, split.py) compose without materialization
barriers.  Catalyst sees the whole chain: the lang/quality filters
prune the corpus *before* the (expensive) shingle join of the near-dup
stage, column pruning reaches the scan, and the component map (only
docs with >= 1 near-dup) broadcasts into the survivor semi-join.

``corpus_pack_blocks`` is concat-and-chunk sequence packing, the
standard GPT-style pretraining layout: per shard (``source``),
documents are concatenated in deterministic ``doc_id`` order and cut
into fixed ``block_tokens`` blocks; each doc gets its (start_block,
start_offset, end_block) coordinates.  Pure window cumsum — one
shuffle on ``source``, no Python.  Packing is per-shard by design:
a *global* cumsum would serialize onto one task at 100 TB, while
per-source windows are embarrassingly parallel and match how training
shards are actually laid out.

100 TB shape: curation is filter -> near-dup pair emit -> connected
components -> broadcast semi-join -> hash projection; packing is one
hash-partition + in-task sort per shard.  The pair emitter is
pluggable: the DEFAULT is the exact shingle self-join
(``ngram_jaccard_pairs``) because DuckDB can reproduce it bit-exactly
for the correctness gate, but it is quadratic in docs-per-shingle — at
100 TB a hot shingle makes that join explode.  The scale path is
``corpus_curation_lsh`` (registered below), which plugs in the banded
MinHash-LSH emitter: the only joins are (band, band_hash) bucket
equi-joins plus a candidate-only exact verify, so cost tracks true
near-duplicates rather than corpus².  The registered key uses the md5
hash family (``minhash_lsh_verified``) so the whole pipeline is
DuckDB-value-checkable; ``dedup.minhash_lsh_pairs`` is the xxhash64
twin for production (same plan shape, ~6x cheaper per shingle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .dedup import (
    _JACCARD_CTES,
    _LSH_VERIFY_CTES,
    _SHINGLE_CTE,
    connected_components,
    minhash_lsh_verified,
    neardup_keep_canonical,
    ngram_jaccard_pairs,
)
from .split import BUCKETS, TRAIN_PCT, VAL_PCT, assign_split
from .text import _words, lang_pred_expr, quality_expr, text_quality

BLOCK_TOKENS = 512
MIN_QUALITY = 0.2
KEEP_LANGS = ("en",)


def _lang_quality_filtered(docs, langs, min_quality, cols):
    """The curation family's lang+quality filter computed INLINE on one
    documents scan (r11, guide §2.4 "remove shuffles outright"):
    lang_id and text_quality are pure per-row functions of ``text``, so
    joining their frames back on doc_id (the pre-r11 shape) paid 3
    documents scans + 2 doc_id self-joins per use of the filtered frame
    — and the filtered frame appears 2-3 times in every curation plan.
    doc_id is the documents primary key (uniqueness and non-nullness
    are expectations-suite invariants, and the DuckDB curation oracles
    compose the same per-row CTEs through doc_id joins), so the inner
    joins were row-preserving and the fold is exact: identical
    expressions, identical rows.  The filter is map-only (no exchange):
    it composes into every curation plan without adding a shuffle."""
    return (
        docs.select(
            "doc_id",
            "text",
            lang_pred_expr(F.col("text")).alias("lang_pred"),
            quality_expr(F.col("text")).alias("quality"),
        )
        .where(
            F.col("lang_pred").isin(*langs) & (F.col("quality") >= min_quality)
        )
        .select(*cols)
    )


def corpus_curation(
    docs: DataFrame,
    *,
    min_quality: float = MIN_QUALITY,
    langs: tuple[str, ...] = KEEP_LANGS,
    pair_emitter: Callable[[DataFrame], DataFrame] | None = None,
    comp: DataFrame | None = None,
) -> DataFrame:
    """lang-ID filter -> quality filter -> near-dup keep-canonical ->
    train/val/test split, one plan end to end.

    Near-dup components are computed over the *post-filter* corpus:
    dropping a low-quality doc must not let its near-duplicate survive
    via a broken chain — the component map is rebuilt on the filtered
    population, which is also the cheaper order (filters prune before
    the pair join).

    ``pair_emitter`` maps the filtered (doc_id, text, ...) frame to
    (doc_a, doc_b, ...) near-dup pairs.  Default: the exact shingle
    self-join (oracle-reproducible; quadratic in docs-per-shingle).
    Pass an LSH emitter for the bucketed 100 TB path —
    ``corpus_curation_lsh`` registers ``minhash_lsh_verified`` (md5,
    oracle-checkable); ``dedup.minhash_lsh_pairs`` is its xxhash64
    production twin.
    """
    emit = ngram_jaccard_pairs if pair_emitter is None else pair_emitter
    filtered = _lang_quality_filtered(
        docs, langs, min_quality, ("doc_id", "text", "lang_pred", "quality")
    )
    if comp is None:
        comp = connected_components(emit(filtered).select("doc_a", "doc_b"))
    kept = neardup_keep_canonical(filtered, comp)
    return (
        assign_split(filtered.join(kept, "doc_id"), "doc_id")
        .select("doc_id", "lang_pred", "quality", "split")
    )


def corpus_e2e_factory(
    docs: DataFrame,
    *,
    min_quality: float = MIN_QUALITY,
    langs: tuple[str, ...] = KEEP_LANGS,
    cap: int | None = None,
    pair_emitter: Callable[[DataFrame], DataFrame] | None = None,
    comp: DataFrame | None = None,
) -> DataFrame:
    """The whole data factory as ONE Catalyst plan: lang-ID filter ->
    quality filter -> near-dup keep-canonical -> per-source cap ->
    train/val/test split.  This is the composition a real corpus
    release runs end to end; expressing it as one DataFrame lets
    Catalyst prune columns through every stage and the driver
    value-check the ENTIRE pipeline, not just its pieces.

    Stage order is the cost order: cheap per-doc filters prune before
    the pair join (the expensive stage sees only survivors), the cap
    runs on the deduped population (a capped-out near-dup must not
    block its duplicate from counting against the cap), and the split
    is a pure hash at the end.  Same emitter pluggability as
    corpus_curation (exact shingle join by default; an LSH emitter
    at 100 TB)."""
    cap = CAP_PER_SOURCE if cap is None else cap  # module global, call-time
    emit = ngram_jaccard_pairs if pair_emitter is None else pair_emitter
    filtered = _lang_quality_filtered(
        docs, langs, min_quality, ("doc_id", "text", "lang_pred", "quality")
    )
    if comp is None:
        comp = connected_components(emit(filtered).select("doc_a", "doc_b"))
    kept = neardup_keep_canonical(filtered, comp)
    survivors = (
        filtered.join(kept, "doc_id")
        .join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    capped = (
        survivors.select(
            "doc_id", "source", "lang_pred", "quality",
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") <= cap)
    )
    return assign_split(capped, "doc_id").select(
        "doc_id", "source", "lang_pred", "quality", "split"
    )


def corpus_curation_semantic(
    docs: DataFrame,
    emb: DataFrame,
    *,
    min_quality: float = MIN_QUALITY,
    langs: tuple[str, ...] = KEEP_LANGS,
) -> DataFrame:
    """``corpus_curation`` with the lexical pair emitter swapped for
    EMBEDDING-space dedup (operators/semdedup.py): lang-ID filter ->
    quality filter -> SemDeDup leader-keep over the survivors'
    embeddings (doc_id = vec_id) -> train/val/test split, one plan.

    This is the curation recipe that catches paraphrased duplicates
    shingle Jaccard misses.  Like corpus_curation, dedup runs on the
    POST-filter population (dropping a low-quality doc must not shield
    its semantic duplicate), so the frozen codebook is the first
    N_CLUSTERS surviving vec_ids — mirrored exactly by the oracle.
    Docs without an embedding row fall out at the join (a real
    pipeline embeds everything first; the fixture is fully aligned).

    100 TB shape: per-doc filters prune before any vector work; the
    semantic stage inherits semdedup's broadcast-codebook + cell-equi-
    join shape; the split is a pure md5 hash."""
    filtered = _lang_quality_filtered(
        docs, langs, min_quality, ("doc_id", "lang_pred", "quality")
    )
    from .semdedup import semantic_dedup

    fe = emb.join(
        filtered.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    kept = (
        semantic_dedup(fe)
        .where(F.col("kept"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    return assign_split(filtered.join(kept, "doc_id"), "doc_id").select(
        "doc_id", "lang_pred", "quality", "split"
    )


def corpus_pack_blocks(docs: DataFrame, block_tokens: int = BLOCK_TOKENS) -> DataFrame:
    """Concat-and-chunk packing coordinates per document, per shard.

    Whitespace token counts (same tokenizer as text.py); docs ordered
    by doc_id within ``source``; blocks are ``block_tokens`` wide.  A
    doc starting mid-block records its offset; end_block marks the
    block its last token lands in (empty docs occupy their start
    block).
    """
    toks = F.size(_words(F.col("text"))).cast("long")
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    d = docs.select("source", "doc_id", toks.alias("n_tokens"))
    cum_prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return d.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(cum_prev / block_tokens).cast("long").alias("start_block"),
        F.pmod(cum_prev, F.lit(block_tokens)).cast("long").alias("start_offset"),
        F.floor(
            (cum_prev + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / block_tokens
        ).cast("long").alias("end_block"),
    )


PACK_CAPACITY = 512


def corpus_pack_greedy(docs: DataFrame, capacity: int = PACK_CAPACITY) -> DataFrame:
    """First-fit-decreasing bin packing per shard: assign whole
    documents to fixed-capacity blocks minimizing padding WITHOUT
    splitting any document — the "no cross-document attention" packing
    layout (vs corpus_pack_blocks' concat-and-chunk, which cuts docs
    at block boundaries).

    Classic FFD per shard (``source``): docs sorted (n_tokens desc,
    doc_id asc), each placed in the first open block it fits; docs
    longer than ``capacity`` get a dedicated oversize block.  FFD is
    inherently sequential WITHIN a shard (each placement depends on
    every fill before it), so this is a textbook applyInPandas
    operator: one hash shuffle on ``source``, then pure per-shard
    Python — exactly the parallelism the data layout has, since
    training shards are packed independently anyway.  Deterministic —
    and oracled since round 6: the same FFD replays as a bounded
    recursive CTE in DuckDB (fill-vector state, one doc per level), so
    the driver value-checks every placement; the pytest pin
    additionally replays FFD in pure Python and asserts
    capacity/oversize invariants.

    Output (source, block_id, doc_id, n_tokens, block_fill): block_id
    is the per-shard open order; block_fill is the block's final token
    total on every member row (fill <= capacity unless a singleton
    oversize block)."""
    d = docs.select(
        "source", "doc_id", F.size(_words(F.col("text"))).cast("long").alias("n_tokens")
    )

    def _ffd(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []
        assign: list[int] = []
        for n in pdf["n_tokens"]:
            n = int(n)
            if n >= capacity:
                assign.append(len(fills))
                fills.append(n)
                continue
            for b, fill in enumerate(fills):
                # oversize blocks stay singleton: fill >= capacity never fits
                if fill + n <= capacity:
                    assign.append(b)
                    fills[b] = fill + n
                    break
            else:
                assign.append(len(fills))
                fills.append(n)
        out = pd.DataFrame(
            {
                "source": pdf["source"],
                "block_id": assign,
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "block_fill": [fills[b] for b in assign],
            }
        )
        return out

    return d.groupBy("source").applyInPandas(
        _ffd, "source string, block_id long, doc_id long, n_tokens long, block_fill long"
    )


# Gopher-style dup-word gate: the sf0.01 fixture's dup_word_frac spans
# 0–0.72 (p90 ≈ 0.68), so 0.65 discriminates; 0.9 never fired (vacuous).
MAX_DUP_WORD_FRAC = 0.65

# reason-code bits (integer bitmask — exact across engines)
REASON_LANG = 1
REASON_QUALITY = 2
REASON_REPETITION = 4


def corpus_quality_gate(
    docs: DataFrame,
    *,
    min_quality: float = MIN_QUALITY,
    langs: tuple[str, ...] = KEEP_LANGS,
    max_dup_word_frac: float = MAX_DUP_WORD_FRAC,
    lang_col: str | None = None,
) -> DataFrame:
    """(doc_id, keep, reasons): the per-document curation verdict with
    WHY — a real pipeline never just drops a doc, it records which gate
    fired (corpus debugging, per-source quality dashboards, appeal
    review).  ``reasons`` is a bitmask (1 = lang, 2 = quality,
    4 = repetition); keep = 1 iff reasons = 0.  Integer codes keep the
    oracle bit-exact.

    ``lang_col``: trust an upstream language tag (e.g. the crawler's)
    instead of the stopword predictor — the registered gate query uses
    the fixture's ``lang`` column because the predictor is degenerate
    on the synthetic word-soup corpus (predicts 'en' for ~everything,
    which would make the lang bit vacuous).

    One declarative plan, ONE documents scan (r11): every signal the
    gate consumes — lang_pred, quality, dup_word_frac — is a pure
    per-row function of (text, lang), so all three fold into the scan's
    projection; no doc_id self-joins, no shuffle.  (The pre-r11 shape
    joined lang_id/text_quality/repetition_signals frames on doc_id —
    row-preserving on the unique doc_id key, but 4 scans + 3 joins, and
    repetition_signals' mode-bigram leg cost an explode + shuffle +
    window whose output the gate discarded.)  100 TB shape: map-only."""
    from .repetition import dup_word_frac_expr

    if lang_col is None:
        lang_ok = lang_pred_expr(F.col("text")).isin(*langs)
    else:
        lang_ok = F.col(lang_col).isin(*langs)
    base = docs.select(
        "doc_id",
        lang_ok.alias("lang_ok"),
        (quality_expr(F.col("text")) >= min_quality).alias("qual_ok"),
        (dup_word_frac_expr(F.col("text")) <= max_dup_word_frac).alias("rep_ok"),
    )
    reasons = (
        F.when(~F.col("lang_ok"), REASON_LANG).otherwise(0)
        + F.when(~F.col("qual_ok"), REASON_QUALITY).otherwise(0)
        + F.when(~F.col("rep_ok"), REASON_REPETITION).otherwise(0)
    ).cast("long")
    return base.select(
        "doc_id",
        F.when(reasons == 0, 1).otherwise(0).cast("long").alias("keep"),
        reasons.alias("reasons"),
    )


def corpus_source_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus dashboard: doc count, distinct-text count
    (exact-dup rate is n_docs - n_distinct_texts), token and char
    totals.  All integer aggregates — bit-exact across engines; the
    float metrics (mean quality etc.) live in their own operators
    where their engine-portability is handled individually.

    100 TB shape: one map-side-combined agg keyed on source (source
    cardinality is dashboard-sized); the distinct-text count is the
    standard two-phase expand — no row ever carries its full text into
    the shuffle (md5 first)."""
    toks = F.size(_words(F.col("text"))).cast("long")
    return (
        docs.select("source", F.md5("text").alias("h"), toks.alias("n_toks"),
                    F.length("text").cast("long").alias("n_chars"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_distinct_texts"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


SHUFFLE_SALT = "epoch-0"


def corpus_shuffle_order(docs: DataFrame, salt: str = SHUFFLE_SALT) -> DataFrame:
    """(doc_id, order_idx): deterministic pseudo-random global training
    order — rank of md5(salt || doc_id).  Reshuffling between epochs =
    changing ``salt``; no RNG, so any worker can recompute any index.

    100 TB shape: a naive dense rank is a GLOBAL sort (one task).
    Instead the md5 key's first byte pre-shards the sort: ordering by
    (shard, rest-of-key) IS md5 order, so each shard ranks
    independently (256-way parallel window) and the global index is
    intra-shard rank + the (broadcast, 256-row) running offset of
    earlier shards.  One corpus shuffle total, no single-task sort.
    """
    key = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("k"), F.substring(key, 1, 2).alias("shard"))
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    ranked = keyed.select("doc_id", "shard", F.row_number().over(w).alias("intra"))
    counts = keyed.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    # 256 rows: the running offset window is effectively free
    off_w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "shard", F.coalesce(F.sum("n").over(off_w), F.lit(0).cast("long")).alias("off")
    )
    return (
        ranked.join(F.broadcast(offsets), "shard")
        .select("doc_id", (F.col("off") + F.col("intra") - 1).cast("long").alias("order_idx"))
    )


BUDGET_NUM, BUDGET_DEN = 1, 2  # keep half the corpus token mass


def corpus_token_budget(
    docs: DataFrame,
    num: int = BUDGET_NUM,
    den: int = BUDGET_DEN,
    salt: str = SHUFFLE_SALT,
) -> DataFrame:
    """Token-budget sampling: keep a deterministic pseudo-random
    prefix of the corpus whose token mass fits the budget — the "train
    on N tokens" subset every scaling-law ablation needs.  Budget =
    ``total_tokens * num div den`` (integer, computed in-query); docs
    are taken in md5(salt‖doc_id) order (the corpus_shuffle_order
    key), and a doc is kept iff its INCLUSIVE running token count fits
    the budget — so the kept set is unbiased w.r.t. content, stable
    across engines, and reshuffles with the salt.

    100 TB shape: the naive form is a GLOBAL ordered cumsum (one
    task).  Same fix as corpus_shuffle_order: the key's first byte
    pre-shards the order, each shard cumsums independently (256-way
    parallel window), and the global running total is intra-shard
    cumsum + the broadcast 256-row running shard offset.  One corpus
    shuffle total; the budget row broadcasts.

    Output (doc_id, n_tokens, cum_tokens) for kept docs."""
    key = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string")))
    d = docs.select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("long").alias("n_tokens"),
        key.alias("k"),
        F.substring(key, 1, 2).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = d.select(
        "doc_id", "n_tokens", "shard", F.sum("n_tokens").over(w).alias("intra_cum")
    )
    shard_tot = d.groupBy("shard").agg(F.sum("n_tokens").alias("n"))
    off_w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = shard_tot.select(
        "shard", F.coalesce(F.sum("n").over(off_w), F.lit(0).cast("long")).alias("off")
    )
    budget = shard_tot.agg(
        F.expr(f"sum(n) * {num} div {den}").cast("long").alias("budget")
    )
    return (
        ranked.join(F.broadcast(offsets), "shard")
        .crossJoin(F.broadcast(budget))
        .where(F.col("off") + F.col("intra_cum") <= F.col("budget"))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("off") + F.col("intra_cum")).cast("long").alias("cum_tokens"),
        )
    )


# --- queries()/oracle_sql() registrations ---------------------------------


CAP_PER_SOURCE = 20


def corpus_cap_per_source(docs: DataFrame, cap: int = CAP_PER_SOURCE) -> DataFrame:
    """Per-domain document cap (the C4/RefinedWeb anti-dominance step):
    keep at most ``cap`` docs per source, preferring longer documents,
    deterministic doc_id tiebreak.  One hash-partition by source + an
    in-partition top-``cap`` — Spark plans row_number with a partial
    sort, no global ordering.

    100 TB shape: the shuffle is keyed on source, the natural skew axis
    (a giant domain IS the thing being capped).  A hot source's
    partition still only needs a bounded heap of ``cap`` rows per
    task under AQE skew-split, because row_number with a pushed
    rank-limit (Spark's WindowGroupLimit) prunes to the per-partition
    top-``cap`` BEFORE the shuffle — the plan pin asserts the
    WindowGroupLimit is present."""
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "source", "n_chars", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= cap)
        .select("doc_id", "source", F.col("rk").cast("long").alias("rk"))
    )


def corpus_lang_source_matrix(docs: DataFrame) -> DataFrame:
    """The language x source crosstab (doc counts + char mass) every
    multilingual-corpus dashboard opens with.  One map-side-combined
    agg on a (langs x sources)-bounded key space — broadcast-sized
    output at any corpus scale."""
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("n_chars"),
        )
    )


N_DECILES = 10


def corpus_length_deciles(docs: DataFrame, n: int = N_DECILES) -> DataFrame:
    """(doc_id, n_chars, decile): curriculum/length bucketing by VALUE
    boundaries — all docs sharing a boundary length land in the same
    bucket (semantically right for curricula; rank-ntile would split
    ties arbitrarily).

    Scale-true construction, NO global sort: boundary b_i = the
    smallest length whose running count reaches ceil(i*N/n).  The
    running count lives on the (value-cardinality, not corpus-sized)
    length histogram — a window over <=~1000 rows — and the 9-row
    boundary table broadcasts back into a map-only bucket assignment:
    decile = 1 + #{i : b_i < n_chars}.  Integer arithmetic throughout,
    so the oracle is bit-exact."""
    hist = docs.groupBy(F.col("n_chars").cast("long").alias("len")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("len", F.sum("cnt").over(w).alias("cum"))
    total = docs.count()  # one scalar job; the spine below needs it driver-side
    spine = [(i, (i * total + n - 1) // n) for i in range(1, n)]
    sp = docs.sparkSession.createDataFrame(spine, "i long, need long")
    bounds = (
        F.broadcast(sp)
        .join(cum, cum.cum >= sp.need)
        .groupBy("i")
        .agg(F.min("len").alias("b"))
    )
    return (
        docs.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .crossJoin(F.broadcast(bounds.agg(F.collect_list("b").alias("bs"))))
        .select(
            "doc_id",
            "n_chars",
            (
                F.lit(1)
                + F.size(F.filter("bs", lambda b: b < F.col("n_chars")))
            ).cast("long").alias("decile"),
        )
    )


PROFILE_PREFIX_LEN = 32


def corpus_field_profile(docs: DataFrame) -> DataFrame:
    """Per-column validation profile — the schema-drift / data-quality
    gate a pipeline runs before admitting a new corpus drop: one row
    per column with row count, null count, exact distinct count, and
    the (truncated) lexicographic min/max.  The reference delegates
    this to ad-hoc DuckDB SQL; here it is one declarative pass.

    100 TB shape: a single scan.  The five exact countDistinct
    aggregates compile to one Expand (5x row multiplication into a
    partial aggregate) — one job, no per-column re-scan; at extreme
    scale swap in approx_count_distinct per column (the rows-only
    variant) if the Expand shuffle dominates.  min/max are truncated
    to PROFILE_PREFIX_LEN chars AFTER aggregation, so full values
    never leave the executors."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def _mm(c, fn):
        return F.substring(
            F.coalesce(fn(F.col(c)).cast("string"), F.lit("")),
            1,
            PROFILE_PREFIX_LEN,
        )

    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
            _mm(c, F.min).alias(f"{c}__min"),
            _mm(c, F.max).alias(f"{c}__max"),
        ]
    one = docs.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args += [
            F.lit(c),
            F.col(f"{c}__nulls"),
            F.col(f"{c}__distinct"),
            F.col(f"{c}__min"),
            F.col(f"{c}__max"),
        ]
    return one.select(
        "n_rows",
        F.stack(
            F.lit(len(cols)), *stack_args
        ).alias("column", "n_nulls", "n_distinct", "min_prefix", "max_prefix"),
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_prefix", "max_prefix")


INTERLEAVE_SALT = "interleave"


def corpus_interleave_shards(docs: DataFrame, salt: str = INTERLEAVE_SALT) -> DataFrame:
    """(doc_id, source, round_idx, order_idx): source-interleaved
    training order — round 1 takes one doc from every source (source
    name order), then round 2, ... so no source ever streams in a
    block (the curriculum failure mode source-sequential training
    data has).  Within a source, round assignment follows the
    deterministic md5(salt:doc_id) shuffle key (reshuffle = new salt,
    any worker recomputes any position; same key family as
    corpus_shuffle_order).

    100 TB shape: the naive global position is row_number() over a
    GLOBAL (round, source) sort — one task.  Instead the closed form
    needs only the per-source doc counts (a broadcast row per source):

      order_idx = sum_s min(round-1, n_s)            docs in earlier rounds
                + #{s' < source : n_s' >= round}     earlier sources this round

    computed as array algebra over the collected (source, n) list —
    map-only after the per-source row_number window (parallel across
    sources, skew bounded by the largest single source)."""
    key = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("k", "doc_id")
    ranked = (
        docs.select("doc_id", "source", key.alias("k"))
        .select("doc_id", "source", F.row_number().over(w).cast("long").alias("round_idx"))
    )
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("source").alias("s"), F.col("n")))
            ).alias("cs")
        )
    )
    earlier_rounds = F.aggregate(
        "cs",
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.least(F.col("round_idx") - 1, x["n"]),
    )
    this_round = F.size(
        F.filter(
            "cs",
            lambda x: (x["s"] < F.col("source")) & (x["n"] >= F.col("round_idx")),
        )
    ).cast("long")
    return (
        ranked.crossJoin(F.broadcast(counts))
        .select(
            "doc_id",
            "source",
            "round_idx",
            (earlier_rounds + this_round).alias("order_idx"),
        )
    )


# corpus_curation and corpus_e2e_factory (default emitter, default
# filters) compute the IDENTICAL post-filter component map — memoized
# per (session, sf_dir) like dedup's _COMPONENTS_CACHE (that one is the
# FULL-docs closure; this one is the filtered-population closure the
# curation docstring requires).  Custom-emitter variants (lsh,
# semantic) have different graphs and never touch this memo.
_FILTERED_COMP_CACHE: dict = {}


def _filtered_components_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    ck = (spark.sparkContext.applicationId, str(sf_dir))
    df = _FILTERED_COMP_CACHE.get(ck)
    if df is None:
        docs = load_table(spark, sf_dir, "documents")
        filtered = _lang_quality_filtered(
            docs, KEEP_LANGS, MIN_QUALITY, ("doc_id", "text")
        )
        df = connected_components(
            ngram_jaccard_pairs(filtered).select("doc_a", "doc_b")
        ).localCheckpoint(eager=True)
        _FILTERED_COMP_CACHE[ck] = df
    return df


def _q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_curation(
        load_table(spark, sf_dir, "documents"),
        comp=_filtered_components_for(spark, sf_dir),
    )


def _q_curation_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_curation_semantic(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def _q_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_pack_blocks(load_table(spark, sf_dir, "documents"))


def _q_curation_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB curation pipeline: banded MinHash-LSH pair emitter
    instead of the exact shingle self-join.  r10: the emitter is the
    md5-family ``minhash_lsh_verified`` (same candidate->verify shape
    as the xxhash64 production twin, engine-portable values), so the
    driver value-checks the WHOLE pipeline against DuckDB instead of
    rows-only; tests/test_corpus.py still pins non-vacuity and the
    plan shape (no shingle-string self-join) for the xxhash64 twin."""
    return corpus_curation(
        load_table(spark, sf_dir, "documents"), pair_emitter=minhash_lsh_verified
    )


def _q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_shuffle_order(load_table(spark, sf_dir, "documents"))


def _q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_quality_gate(
        load_table(spark, sf_dir, "documents"), lang_col="lang"
    )


def _q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_source_stats(load_table(spark, sf_dir, "documents"))


def corpus_datasheet(docs: DataFrame) -> DataFrame:
    """The one-row dataset card (datasheet headline): corpus totals a
    release ships with — doc/source/lang cardinalities, token and char
    mass, distinct-text count (exact-dup rate falls out).  One
    scan + one global combined agg; the three exact distincts expand
    but each keys on dashboard-or-hash cardinality."""
    toks = F.size(_words(F.col("text"))).cast("long")
    return docs.select(
        "source", "lang", F.md5("text").alias("h"), toks.alias("n_toks"),
        F.length("text").cast("long").alias("len"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("h").alias("n_distinct_texts"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum("len").alias("n_chars"),
    )


def _q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_cap_per_source(load_table(spark, sf_dir, "documents"))


def _q_lang_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_lang_source_matrix(load_table(spark, sf_dir, "documents"))


def _q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_length_deciles(load_table(spark, sf_dir, "documents"))


def keep_best_quality(docs: DataFrame, comp: DataFrame | None = None) -> DataFrame:
    """Near-dup survivor selection by QUALITY: within each near-dup
    component keep the HIGHEST-quality doc (tie -> lowest doc_id), plus
    every unpaired doc — the curation rule production pipelines
    actually want (neardup_keep_canonical's min-id rule keeps whichever
    near-dup happened to be crawled first; this one keeps the best
    copy).  Output (doc_id, quality) for every surviving doc.

    Engine-exactness: quality values are the oracle-verified
    text_quality expression (hash-matched raw doubles in r3), so
    ordering by them is deterministic; the window tie-break is
    (quality DESC, doc_id ASC) on both engines.

    100 TB shape: the component map covers only docs WITH a near-dup
    (small by construction) and broadcasts; the window partitions by
    component_id — component-bounded, never corpus-wide; unpaired docs
    take a broadcast anti-join, no shuffle."""
    if comp is None:
        comp = connected_components(
            ngram_jaccard_pairs(docs).select("doc_a", "doc_b")
        )
    q = text_quality(docs).select("doc_id", "quality")
    in_comp = q.join(comp, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    best = (
        in_comp.select(
            "doc_id", "quality", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") == 1)
        .select("doc_id", "quality")
    )
    singles = q.join(comp.select("doc_id"), "doc_id", "left_anti")
    return best.unionByName(singles)


def _q_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import components_for

    return keep_best_quality(
        load_table(spark, sf_dir, "documents"), comp=components_for(spark, sf_dir)
    )


QUERIES = {
    "corpus_field_profile": lambda spark, sf_dir: corpus_field_profile(
        load_table(spark, sf_dir, "documents")
    ),
    "corpus_interleave_shards": lambda spark, sf_dir: corpus_interleave_shards(
        load_table(spark, sf_dir, "documents")
    ),
    "corpus_keep_best_quality": _q_keep_best_quality,
    "corpus_cap_per_source": _q_cap_per_source,
    "corpus_lang_source_matrix": _q_lang_source_matrix,
    "corpus_length_deciles": _q_length_deciles,
    "corpus_datasheet": lambda spark, sf_dir: corpus_datasheet(
        load_table(spark, sf_dir, "documents")
    ),
    "corpus_e2e_factory": lambda spark, sf_dir: corpus_e2e_factory(
        load_table(spark, sf_dir, "documents"),
        comp=_filtered_components_for(spark, sf_dir),
    ),
    "corpus_curation": _q_curation,
    "corpus_curation_semantic": _q_curation_semantic,  # new in r6
    "corpus_pack_blocks": _q_pack_blocks,
    "corpus_pack_greedy": lambda spark, sf_dir: corpus_pack_greedy(
        load_table(spark, sf_dir, "documents")
    ),  # oracled r6 (recursive-CTE FFD replay)
    "corpus_token_budget": lambda spark, sf_dir: corpus_token_budget(
        load_table(spark, sf_dir, "documents")
    ),
    "corpus_curation_lsh": _q_curation_lsh,  # rows-only (engine hashes)
    "corpus_shuffle_order": _q_shuffle_order,
    "corpus_quality_gate": _q_quality_gate,
    "corpus_source_stats": _q_source_stats,
}

# DuckDB oracles compose the already-verified per-stage SQL: the lang
# CASE and quality expression from text.py's oracles, the shingle /
# pair / recursive-closure CTEs from dedup.py's (rebased onto the
# filtered corpus), and split.py's md5 bucketing.
from .text import _LANG_CASE, _sql_list  # noqa: E402
from .text import STOPWORDS as _SW  # noqa: E402

_EN = _sql_list(_SW["en"])

_QUALITY_EXPR = (
    f"least(1.0, CAST(len(w) AS BIGINT) / 100.0)"
    f" * (1.0 - (CAST(len(list_filter(w, x -> list_contains({_EN}, x))) AS BIGINT)"
    f" / CAST(len(w) AS BIGINT)) * 0.5)"
)

_LANGS_IN = ", ".join(f"'{lg}'" for lg in KEEP_LANGS)

from .semdedup import N_CLUSTERS as _SEM_K  # noqa: E402
from .semdedup import SEM_THRESHOLD as _SEM_TAU  # noqa: E402

_CURATION_SEMANTIC_SQL = f"""
WITH
wq AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
lang AS (SELECT doc_id, {_LANG_CASE} AS lang_pred FROM documents),
qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM wq),
filtered AS (
  SELECT d.doc_id, l.lang_pred, q.quality
  FROM documents d
  JOIN lang l USING (doc_id)
  JOIN qual q USING (doc_id)
  WHERE l.lang_pred IN ({_LANGS_IN}) AND q.quality >= {MIN_QUALITY}
),
d AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm
  FROM embeddings e JOIN filtered f ON e.vec_id = f.doc_id
),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id, v AS cv, nrm AS cnrm
  FROM d WHERE vec_id IN (SELECT vec_id FROM d ORDER BY vec_id LIMIT {_SEM_K})
),
assign AS (
  SELECT vec_id, cent_id,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY list_dot_product(d.v, c.cv) / (d.nrm * c.cnrm) DESC, cent_id ASC
         ) AS rk
  FROM d CROSS JOIN cents c
),
cells AS (
  SELECT d.vec_id, a.cent_id AS cell, d.v, d.nrm
  FROM d JOIN assign a ON d.vec_id = a.vec_id AND a.rk = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_SEM_TAU}
),
kept AS (
  SELECT c.vec_id AS doc_id FROM cells c
  LEFT JOIN dropped dr ON c.vec_id = dr.vec_id
  WHERE dr.vec_id IS NULL
),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {BUCKETS} AS bucket
  FROM kept
)
SELECT f.doc_id, f.lang_pred, f.quality,
       CASE WHEN b.bucket < {TRAIN_PCT} THEN 'train'
            WHEN b.bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM filtered f JOIN b USING (doc_id)
"""

ORACLES = {
    "corpus_field_profile": f"""
WITH agg AS (
  SELECT count(*)::BIGINT AS n_rows,
         sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS doc_id__nulls,
         count(DISTINCT doc_id)::BIGINT AS doc_id__distinct,
         substr(coalesce(min(doc_id)::VARCHAR, ''), 1, {PROFILE_PREFIX_LEN}) AS doc_id__min,
         substr(coalesce(max(doc_id)::VARCHAR, ''), 1, {PROFILE_PREFIX_LEN}) AS doc_id__max,
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS text__nulls,
         count(DISTINCT text)::BIGINT AS text__distinct,
         substr(coalesce(min(text), ''), 1, {PROFILE_PREFIX_LEN}) AS text__min,
         substr(coalesce(max(text), ''), 1, {PROFILE_PREFIX_LEN}) AS text__max,
         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS lang__nulls,
         count(DISTINCT lang)::BIGINT AS lang__distinct,
         substr(coalesce(min(lang), ''), 1, {PROFILE_PREFIX_LEN}) AS lang__min,
         substr(coalesce(max(lang), ''), 1, {PROFILE_PREFIX_LEN}) AS lang__max,
         sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT AS source__nulls,
         count(DISTINCT source)::BIGINT AS source__distinct,
         substr(coalesce(min(source), ''), 1, {PROFILE_PREFIX_LEN}) AS source__min,
         substr(coalesce(max(source), ''), 1, {PROFILE_PREFIX_LEN}) AS source__max,
         sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_chars__nulls,
         count(DISTINCT n_chars)::BIGINT AS n_chars__distinct,
         substr(coalesce(min(n_chars)::VARCHAR, ''), 1, {PROFILE_PREFIX_LEN}) AS n_chars__min,
         substr(coalesce(max(n_chars)::VARCHAR, ''), 1, {PROFILE_PREFIX_LEN}) AS n_chars__max
  FROM documents
)
SELECT 'doc_id' AS "column", n_rows, doc_id__nulls AS n_nulls,
       doc_id__distinct AS n_distinct, doc_id__min AS min_prefix, doc_id__max AS max_prefix FROM agg
UNION ALL
SELECT 'text', n_rows, text__nulls, text__distinct, text__min, text__max FROM agg
UNION ALL
SELECT 'lang', n_rows, lang__nulls, lang__distinct, lang__min, lang__max FROM agg
UNION ALL
SELECT 'source', n_rows, source__nulls, source__distinct, source__min, source__max FROM agg
UNION ALL
SELECT 'n_chars', n_rows, n_chars__nulls, n_chars__distinct, n_chars__min, n_chars__max FROM agg
""",
    "corpus_interleave_shards": """
WITH k AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('interleave:' || doc_id::VARCHAR), doc_id
         )::BIGINT AS round_idx
  FROM documents
)
SELECT doc_id, source, round_idx,
       (row_number() OVER (ORDER BY round_idx, source, doc_id) - 1)::BIGINT AS order_idx
FROM k
""",
    "corpus_datasheet": """
WITH w AS (
  SELECT source, lang, md5(text) AS h,
         len(regexp_split_to_array(trim(lower(text)), '\\s+'))::BIGINT AS n_toks,
         len(text)::BIGINT AS len
  FROM documents
)
SELECT count(*)::BIGINT AS n_docs,
       count(DISTINCT source)::BIGINT AS n_sources,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT h)::BIGINT AS n_distinct_texts,
       sum(n_toks)::BIGINT AS n_tokens,
       sum(len)::BIGINT AS n_chars
FROM w
""",
    "corpus_lang_source_matrix": """
SELECT lang, source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_chars
FROM documents GROUP BY lang, source
""",
    "corpus_length_deciles": f"""
WITH hist AS (
  SELECT n_chars::BIGINT AS len, count(*)::BIGINT AS cnt FROM documents GROUP BY 1
),
cum AS (
  SELECT len, sum(cnt) OVER (ORDER BY len)::BIGINT AS cum FROM hist
),
tot AS (SELECT count(*)::BIGINT AS total FROM documents),
spine AS (
  SELECT i, (i * total + {N_DECILES} - 1) // {N_DECILES} AS need
  FROM generate_series(1, {N_DECILES} - 1) AS t(i), tot
),
bounds AS (
  SELECT i, min(len) AS b FROM spine JOIN cum ON cum.cum >= spine.need GROUP BY i
)
SELECT d.doc_id, d.n_chars::BIGINT AS n_chars,
       (1 + (SELECT count(*) FROM bounds WHERE b < d.n_chars))::BIGINT AS decile
FROM documents d
""",
    "corpus_cap_per_source": f"""
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC)::BIGINT AS rk
  FROM documents
) WHERE rk <= {CAP_PER_SOURCE}
""",
    "corpus_curation_semantic": _CURATION_SEMANTIC_SQL,
    "corpus_curation": f"""
WITH RECURSIVE
wq AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
lang AS (SELECT doc_id, {_LANG_CASE} AS lang_pred FROM documents),
qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM wq),
filtered AS (
  SELECT d.doc_id, d.text, l.lang_pred, q.quality
  FROM documents d
  JOIN lang l USING (doc_id)
  JOIN qual q USING (doc_id)
  WHERE l.lang_pred IN ({_LANGS_IN}) AND q.quality >= {MIN_QUALITY}
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w) - 2),
                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [] END) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM filtered)
),
{_JACCARD_CTES},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
walk(v, lbl) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.v
),
comp AS (SELECT v, MIN(lbl) AS lbl FROM walk GROUP BY v),
kept AS (
  SELECT f.doc_id FROM filtered f
  LEFT JOIN comp c ON f.doc_id = c.v
  WHERE c.v IS NULL OR c.v = c.lbl
),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {BUCKETS} AS bucket
  FROM kept
)
SELECT f.doc_id, f.lang_pred, f.quality,
       CASE WHEN b.bucket < {TRAIN_PCT} THEN 'train'
            WHEN b.bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM filtered f JOIN b USING (doc_id)
""",
    # same pipeline as corpus_curation but with the md5-LSH verified
    # pair emitter (dedup._LSH_VERIFY_CTES — shared with the
    # dedup_minhash_lsh oracle so the band math cannot drift).
    "corpus_curation_lsh": f"""
WITH RECURSIVE
wq AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
lang AS (SELECT doc_id, {_LANG_CASE} AS lang_pred FROM documents),
qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM wq),
filtered AS (
  SELECT d.doc_id, d.text, l.lang_pred, q.quality
  FROM documents d
  JOIN lang l USING (doc_id)
  JOIN qual q USING (doc_id)
  WHERE l.lang_pred IN ({_LANGS_IN}) AND q.quality >= {MIN_QUALITY}
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w) - 2),
                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [] END) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM filtered)
),
{_LSH_VERIFY_CTES},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM lshpairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM lshpairs
),
walk(v, lbl) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.v
),
comp AS (SELECT v, MIN(lbl) AS lbl FROM walk GROUP BY v),
kept AS (
  SELECT f.doc_id FROM filtered f
  LEFT JOIN comp c ON f.doc_id = c.v
  WHERE c.v IS NULL OR c.v = c.lbl
),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {BUCKETS} AS bucket
  FROM kept
)
SELECT f.doc_id, f.lang_pred, f.quality,
       CASE WHEN b.bucket < {TRAIN_PCT} THEN 'train'
            WHEN b.bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM filtered f JOIN b USING (doc_id)
""",
    "corpus_e2e_factory": f"""
WITH RECURSIVE
wq AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
lang AS (SELECT doc_id, {_LANG_CASE} AS lang_pred FROM documents),
qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM wq),
filtered AS (
  SELECT d.doc_id, d.text, l.lang_pred, q.quality
  FROM documents d
  JOIN lang l USING (doc_id)
  JOIN qual q USING (doc_id)
  WHERE l.lang_pred IN ({_LANGS_IN}) AND q.quality >= {MIN_QUALITY}
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w) - 2),
                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [] END) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM filtered)
),
{_JACCARD_CTES},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
walk(v, lbl) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.v
),
comp AS (SELECT v, MIN(lbl) AS lbl FROM walk GROUP BY v),
kept AS (
  SELECT f.doc_id FROM filtered f
  LEFT JOIN comp c ON f.doc_id = c.v
  WHERE c.v IS NULL OR c.v = c.lbl
),
survivors AS (
  SELECT f.doc_id, d.source, f.lang_pred, f.quality, d.n_chars
  FROM filtered f
  JOIN kept USING (doc_id)
  JOIN documents d USING (doc_id)
),
capped AS (
  SELECT doc_id, source, lang_pred, quality FROM (
    SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk
    FROM survivors
  ) WHERE rk <= {CAP_PER_SOURCE}
),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {BUCKETS} AS bucket
  FROM capped
)
SELECT c.doc_id, c.source, c.lang_pred, c.quality,
       CASE WHEN b.bucket < {TRAIN_PCT} THEN 'train'
            WHEN b.bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM capped c JOIN b USING (doc_id)
""",
    "corpus_source_stats": """
SELECT source,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT md5(text))::BIGINT AS n_distinct_texts,
       sum(len(regexp_split_to_array(trim(lower(text)), '\\s+')))::BIGINT AS n_tokens,
       sum(length(text))::BIGINT AS n_chars
FROM documents
GROUP BY source
""",
    "corpus_quality_gate": f"""
WITH wq AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
lang AS (SELECT doc_id, lang AS lang_pred FROM documents),
qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM wq),
rep AS (
  SELECT doc_id,
         (len(w)::BIGINT - len(list_distinct(w))::BIGINT) / len(w)::BIGINT AS dup_word_frac
  FROM wq
),
verdict AS (
  SELECT d.doc_id,
         (CASE WHEN l.lang_pred NOT IN ({_LANGS_IN}) THEN {REASON_LANG} ELSE 0 END
          + CASE WHEN q.quality < {MIN_QUALITY} THEN {REASON_QUALITY} ELSE 0 END
          + CASE WHEN r.dup_word_frac > {MAX_DUP_WORD_FRAC} THEN {REASON_REPETITION} ELSE 0 END
         )::BIGINT AS reasons
  FROM documents d
  JOIN lang l USING (doc_id)
  JOIN qual q USING (doc_id)
  JOIN rep r USING (doc_id)
)
SELECT doc_id,
       (CASE WHEN reasons = 0 THEN 1 ELSE 0 END)::BIGINT AS keep,
       reasons
FROM verdict
""",
    "corpus_shuffle_order": f"""
SELECT doc_id,
       (row_number() OVER (ORDER BY md5('{SHUFFLE_SALT}:' || doc_id::VARCHAR), doc_id) - 1)::BIGINT AS order_idx
FROM documents
""",
    "corpus_token_budget": f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens,
         md5('{SHUFFLE_SALT}:' || doc_id::VARCHAR) AS k
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY k, doc_id)::BIGINT AS cum_tokens
  FROM t
),
b AS (SELECT (sum(n_tokens) * {BUDGET_NUM} // {BUDGET_DEN})::BIGINT AS budget FROM t)
SELECT doc_id, n_tokens, cum_tokens
FROM c CROSS JOIN b
WHERE cum_tokens <= budget
""",
    "corpus_pack_blocks": f"""
WITH t AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_prev
  FROM t
)
SELECT source, doc_id, n_tokens,
       cum_prev // {BLOCK_TOKENS} AS start_block,
       cum_prev % {BLOCK_TOKENS} AS start_offset,
       (cum_prev + greatest(n_tokens, 1) - 1) // {BLOCK_TOKENS} AS end_block
FROM c
""",
    # FFD oracle (round 6): first-fit-decreasing replayed as a
    # recursive CTE — one doc per level per shard, the open-block fill
    # vector carried as a BIGINT[] state column.  The first-fit scan is
    # list_position over "fits" booleans (0 = open a new block — also
    # the n_tokens >= capacity oversize rule), the fill update an
    # indexed list_transform; final per-block fills join back onto
    # every member row.  Recursion depth = max docs per shard, rows per
    # level = |shards| — linear in corpus size, exactly the per-shard
    # sequential dependence the applyInPandas kernel has.  Every value
    # is an integer, so the driver hash-check is exact.
    "corpus_pack_greedy": f"""
WITH RECURSIVE d AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens
  FROM documents
),
docs_ord AS (
  SELECT source, doc_id, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id ASC) AS idx
  FROM d
),
counts AS (SELECT source, count(*)::BIGINT AS n FROM docs_ord GROUP BY source),
ffd(source, idx, doc_id, n_tokens, block_id, fills) AS (
  SELECT source, 0::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT, []::BIGINT[]
  FROM counts
  UNION ALL
  SELECT source, idx, doc_id, n_tokens,
         CASE WHEN ff = 0 THEN len(fills) ELSE ff - 1 END,
         CASE WHEN ff = 0 THEN list_append(fills, n_tokens)
              ELSE list_transform(fills,
                                  (x, i) -> CASE WHEN i = ff THEN x + n_tokens
                                                 ELSE x END)
         END
  FROM (
    SELECT o.source, o.idx, o.doc_id, o.n_tokens, f.fills,
           CASE WHEN o.n_tokens >= {PACK_CAPACITY} THEN 0
                ELSE list_position(
                       list_transform(f.fills, x -> x + o.n_tokens <= {PACK_CAPACITY}),
                       true) END AS ff
    FROM ffd f JOIN docs_ord o ON o.source = f.source AND o.idx = f.idx + 1
  )
),
final AS (
  SELECT f.source, f.fills FROM ffd f JOIN counts c ON f.source = c.source AND f.idx = c.n
)
SELECT a.source, a.block_id, a.doc_id, a.n_tokens,
       fin.fills[(a.block_id + 1)::INTEGER] AS block_fill
FROM ffd a JOIN final fin ON a.source = fin.source
WHERE a.idx >= 1
""",
    # composes dedup.py's verified recursive-closure CTEs (df-capped
    # pair universe) with text.py's verified quality expression
    "corpus_keep_best_quality": f"""
WITH RECURSIVE {{shingle}},
{{jaccard}},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
walk(v, lbl) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.v
),
comp AS (SELECT v AS doc_id, MIN(lbl) AS component_id FROM walk GROUP BY v),
wq AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM wq),
ranked AS (
  SELECT c.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rn
  FROM comp c JOIN qual q USING (doc_id)
)
SELECT doc_id, quality FROM ranked WHERE rn = 1
UNION ALL
SELECT q.doc_id, q.quality
FROM qual q LEFT JOIN comp c USING (doc_id)
WHERE c.doc_id IS NULL
""".replace("{shingle}", _SHINGLE_CTE).replace("{jaccard}", _JACCARD_CTES),
}


# --- round-8 addition: per-source population stability index ---------------

PSI_BAND_CHARS = 100  # n_chars per band
PSI_N_BANDS = 10


def quality_psi(docs: DataFrame) -> DataFrame:
    """(source, n_docs, psi): Population Stability Index of each
    source's length distribution against the REST of the corpus —
    the standard drift score (PSI = sum_b (p_b - q_b) ln(p_b/q_b))
    feeds-vs-corpus instead of epoch-vs-epoch, so a feed whose length
    mix diverges from everything else (truncation bugs, boilerplate
    floods) surfaces as psi >> 0.  Rule-of-thumb thresholds: < 0.1
    stable, > 0.25 investigate.

    Determinism: bands are fixed integer ranges (n_chars div 100,
    capped at 9 — no quantile dependence), counts are add-one smoothed
    over the FULL source x band grid on both engines, each band's
    (p - q) and the log-ratio argument are cross-multiplied into exact
    integers ((a*R - r*A) and (a*R)/(r*A)), the log goes through the
    lm.py snapped micro-nat quantizer, and psi is exact-integer sums
    divided ONCE: sum_b [(a*R - r*A) * qlog] / (A*R) / 1e6.

    100 TB shape: one map-side-combined (source, band) count — the
    only corpus-sized stage; everything after is |sources| x 10 rows.
    Counts cross-multiply as DECIMAL(38,0) so trillion-doc feeds
    cannot overflow the integer algebra.

    The (source, band) count frame is localCheckpoint'd (r11, guide
    §5 / §3.3 "materialise an intermediate to truncate the plan"):
    every downstream frame (grid sources, smoothing, band totals,
    source totals, terms, n_docs) re-derives from `counts`, and
    without the cut Catalyst re-expanded the whole lineage per use —
    18 parquet scans / 46 Exchange in the physical plan for what is
    ONE corpus aggregation plus |sources| x 10-row algebra.  n_docs
    now also derives from the checkpointed counts (sum of c per
    source == count(*) per source EXACTLY — the pre-grid counts keep
    a NULL-band group, so no row is lost) instead of re-scanning the
    corpus."""
    from .lm import _qlog

    b = F.least(F.floor(F.col("n_chars") / F.lit(PSI_BAND_CHARS)), F.lit(PSI_N_BANDS - 1))
    counts = (
        docs.select("source", b.cast("long").alias("band"))
        .groupBy("source", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    sources = counts.select("source").distinct()
    spark = docs.sparkSession
    grid = sources.crossJoin(
        spark.range(PSI_N_BANDS).select(F.col("id").alias("band"))
    )
    # add-one smoothing over the full grid (identical on both engines)
    a = (
        grid.join(counts, ["source", "band"], "left")
        .select("source", "band", (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("a"))
    )
    # Band totals and source totals as WINDOW sums over the one tiny
    # grid frame (r11): the join formulation (a x tot_b on band, then
    # ar x tots on source) re-expanded the `a` subtree once per join
    # side — with the whole-partition window sums the lineage is
    # LINEAR (grid -> band window -> source window -> per-source agg),
    # and the final groupBy("source", ...) reuses the source-window
    # exchange outright.  Same integer sums over the same rows —
    # values are bit-identical; the oracle keeps its join form.
    wb = Window.partitionBy("band")
    ws = Window.partitionBy("source")
    ar = a.select(
        "source", "band", "a",
        (F.sum("a").over(wb).cast("long") - F.col("a")).alias("r"),
    )
    ar = ar.select(
        "source", "band", "a", "r",
        F.sum("a").over(ws).cast("long").alias("ta"),
        F.sum("r").over(ws).cast("long").alias("tr"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    terms = ar.select(
        "source",
        "ta",
        "tr",
        (
            (dec("a") * dec("tr") - dec("r") * dec("ta")).cast("decimal(38,0)")
            * _qlog(
                (dec("a") * dec("tr")).cast("double")
                / (dec("r") * dec("ta")).cast("double")
            )
        ).cast("decimal(38,0)").alias("term"),
    )
    n_docs = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n_docs"))
    psi = terms.groupBy("source", "ta", "tr").agg(
        F.sum("term").cast("decimal(38,0)").alias("s")
    )
    return (
        psi.join(n_docs, "source")
        .select(
            "source",
            "n_docs",
            (
                F.col("s").cast("double")
                / (dec("ta") * dec("tr")).cast("double")
                / F.lit(1e6)
            ).alias("psi"),
        )
    )


def _q_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_psi(load_table(spark, sf_dir, "documents"))


QUERIES.update({"corpus_quality_psi": _q_quality_psi})

ORACLES.update(
    {
        "corpus_quality_psi": f"""
WITH counts AS (
  SELECT source, least(n_chars // {PSI_BAND_CHARS}, {PSI_N_BANDS - 1})::BIGINT AS band,
         count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
),
grid AS (
  SELECT s.source, g.band
  FROM (SELECT DISTINCT source FROM counts) s,
       (SELECT unnest(generate_series(0, {PSI_N_BANDS - 1}))::BIGINT AS band) g
),
a AS (
  SELECT grid.source, grid.band, COALESCE(c.c, 0) + 1 AS a
  FROM grid LEFT JOIN counts c ON c.source = grid.source AND c.band = grid.band
),
tot_b AS (SELECT band, sum(a)::BIGINT AS t FROM a GROUP BY 1),
ar AS (
  SELECT a.source, a.band, a.a, (t.t - a.a)::BIGINT AS r
  FROM a JOIN tot_b t USING (band)
),
tots AS (
  SELECT source, sum(a)::BIGINT AS "A", sum(r)::BIGINT AS "R"
  FROM ar GROUP BY 1
),
terms AS (
  SELECT ar.source, tots."A", tots."R",
         (ar.a * tots."R" - ar.r * tots."A")
         * CAST(floor((floor(ln((ar.a * tots."R")::DOUBLE
                              / (ar.r * tots."A")::DOUBLE) * 1e9) + 500)
                      / 1000.0) AS BIGINT) AS term
  FROM ar JOIN tots USING (source)
),
n_docs AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1)
SELECT t.source, n.n_docs,
       sum(t.term)::DOUBLE / (t."A" * t."R")::DOUBLE / 1e6 AS psi
FROM terms t JOIN n_docs n ON n.source = t.source
GROUP BY t.source, n.n_docs, t."A", t."R"
""",
    }
)


# --- round-8 addition: pairwise source JSD ----------------------------------


def token_jsd(docs: DataFrame) -> DataFrame:
    """(source_a, source_b, jsd): Jensen-Shannon divergence (nats)
    between every pair of sources' TOKEN distributions — the proper
    symmetric, finite drift measure beside ``corpus_quality_psi``'s
    length-band screen: JSD catches vocabulary-level divergence
    (different domain, different language mix) that length bands
    cannot, is bounded by ln 2, and needs NO smoothing (absent tokens
    contribute finite mass by construction).

    Exact arithmetic: with integer counts a_t (source A, total TA) and
    b_t (source B, total TB), p_t/m_t = 2 a_t TB / (a_t TB + b_t TA) —
    a ratio of exact BIGINTs — so each KL term rides lm.py's snapped
    micro-nat quantizer and per-pair sums are exact integers.  Tokens
    exclusive to one source fold to a CLOSED FORM (ratio exactly 2, so
    their mass contributes (TA - shared_a) * qlog(2)), which is why
    only the SHARED-token join materializes:
      jsd = 0.5/TA/1e6 * [ sum_shared a_t qlog(2 a_t TB/(a_t TB+b_t TA))
                           + (TA - sum_shared a_t) * qlog(2) ]
          + the symmetric B term.

    100 TB shape: one map-side-combined (source, tok) count — the only
    corpus-sized stage — then a tok-keyed self-join whose output is
    bounded by shared vocabulary x source pairs; totals broadcast.
    DECIMAL(38,0) products keep trillion-token feeds exact."""
    from .lm import _qlog

    toks = docs.select(
        "source", F.explode_outer(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    ).where(F.col("tok").isNotNull() & (F.col("tok") != ""))
    # (source, tok) counts are the only corpus-sized aggregate and feed
    # BOTH self-join sides plus the totals: checkpoint so the tokenize
    # + wordcount pass runs once (r11, guide §5 — was 12 parquet scans
    # in the plan; now 1 behind the checkpoint).  Fault-tolerance trade
    # (ADVICE r11): lineage is truncated, so an executor loss fails the
    # job (retry = rerun) — accepted because the frame is an aggregate
    # (bounded by sources x vocabulary, not corpus rows); the full
    # rationale is at text.py token_entropy's ct checkpoint.
    ct = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = ct.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    a = ct.alias("a")
    b = ct.alias("b")
    shared = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.c").alias("ca"),
        F.col("b.c").alias("cb"),
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("t").alias("ta"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("t").alias("tb"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    terms = (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "ta",
            "tb",
            F.col("ca").alias("sa"),
            F.col("cb").alias("sb"),
            (
                dec("ca")
                * _qlog(
                    (F.lit(2) * dec("ca") * dec("tb")).cast("double")
                    / (dec("ca") * dec("tb") + dec("cb") * dec("ta")).cast("double")
                )
            ).cast("decimal(38,0)").alias("term_a"),
            (
                dec("cb")
                * _qlog(
                    (F.lit(2) * dec("cb") * dec("ta")).cast("double")
                    / (dec("ca") * dec("tb") + dec("cb") * dec("ta")).cast("double")
                )
            ).cast("decimal(38,0)").alias("term_b"),
        )
    )
    agg = terms.groupBy("source_a", "source_b").agg(
        F.sum("term_a").cast("decimal(38,0)").alias("sum_a"),
        F.sum("term_b").cast("decimal(38,0)").alias("sum_b"),
        F.sum("sa").cast("long").alias("shared_a"),
        F.sum("sb").cast("long").alias("shared_b"),
    )
    # full pair grid: a pair with NO shared token must still appear —
    # at exactly jsd = ln 2 (all mass exclusive), not silently vanish
    grid = (
        tot.select(F.col("source").alias("source_a"), F.col("t").alias("ta"))
        .crossJoin(
            tot.select(F.col("source").alias("source_b"), F.col("t").alias("tb"))
        )
        .where(F.col("source_a") < F.col("source_b"))
    )
    agg = grid.join(agg, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "ta",
        "tb",
        F.coalesce("sum_a", F.lit(0).cast("decimal(38,0)")).alias("sum_a"),
        F.coalesce("sum_b", F.lit(0).cast("decimal(38,0)")).alias("sum_b"),
        F.coalesce("shared_a", F.lit(0)).alias("shared_a"),
        F.coalesce("shared_b", F.lit(0)).alias("shared_b"),
    )
    ln2q = _qlog(F.lit(2.0))
    return agg.select(
        "source_a",
        "source_b",
        (
            (
                F.col("sum_a").cast("double")
                + (F.col("ta") - F.col("shared_a")).cast("double") * ln2q
            )
            / F.col("ta")
            / F.lit(2e6)
            + (
                F.col("sum_b").cast("double")
                + (F.col("tb") - F.col("shared_b")).cast("double") * ln2q
            )
            / F.col("tb")
            / F.lit(2e6)
        ).alias("jsd"),
    )


def _q_token_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_jsd(load_table(spark, sf_dir, "documents"))


QUERIES.update({"corpus_token_jsd": _q_token_jsd})

ORACLES.update(
    {
        "corpus_token_jsd": r"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
ct AS (
  SELECT source, tok, count(*)::BIGINT AS c
  FROM toks WHERE tok IS NOT NULL AND tok <> '' GROUP BY 1, 2
),
tot AS (SELECT source, sum(c)::BIGINT AS t FROM ct GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, a.c AS ca, b.c AS cb
  FROM ct a JOIN ct b ON a.tok = b.tok AND a.source < b.source
),
terms AS (
  SELECT s.source_a, s.source_b, ta.t AS ta, tb.t AS tb, s.ca AS sa, s.cb AS sb,
         s.ca * CAST(floor((floor(ln((2 * s.ca * tb.t)::DOUBLE
                                   / (s.ca * tb.t + s.cb * ta.t)::DOUBLE) * 1e9)
                            + 500) / 1000.0) AS BIGINT) AS term_a,
         s.cb * CAST(floor((floor(ln((2 * s.cb * ta.t)::DOUBLE
                                   / (s.ca * tb.t + s.cb * ta.t)::DOUBLE) * 1e9)
                            + 500) / 1000.0) AS BIGINT) AS term_b
  FROM shared s
  JOIN tot ta ON ta.source = s.source_a
  JOIN tot tb ON tb.source = s.source_b
),
agg0 AS (
  SELECT source_a, source_b,
         sum(term_a) AS sum_a, sum(term_b) AS sum_b,
         sum(sa)::BIGINT AS shared_a, sum(sb)::BIGINT AS shared_b
  FROM terms GROUP BY 1, 2
),
grid AS (
  SELECT a.source AS source_a, b.source AS source_b, a.t AS ta, b.t AS tb
  FROM tot a JOIN tot b ON a.source < b.source
),
agg AS (
  SELECT g.source_a, g.source_b, g.ta, g.tb,
         COALESCE(sum_a, 0) AS sum_a, COALESCE(sum_b, 0) AS sum_b,
         COALESCE(shared_a, 0) AS shared_a, COALESCE(shared_b, 0) AS shared_b
  FROM grid g LEFT JOIN agg0 USING (source_a, source_b)
),
ln2q AS (
  SELECT CAST(floor((floor(ln(2.0) * 1e9) + 500) / 1000.0) AS BIGINT) AS q
)
SELECT source_a, source_b,
       (sum_a::DOUBLE + (ta - shared_a)::DOUBLE * (SELECT q FROM ln2q)) / ta / 2e6
     + (sum_b::DOUBLE + (tb - shared_b)::DOUBLE * (SELECT q FROM ln2q)) / tb / 2e6
       AS jsd
FROM agg
""",
    }
)


# --- round-8 addition: dedup funnel report -----------------------------------


def dedup_funnel(
    docs: DataFrame, emb: DataFrame, comp: DataFrame | None = None
) -> DataFrame:
    """(stage, n_docs): how many documents survive each dedup family
    applied cumulatively — raw -> exact (identical text) -> near-dup
    (ngram-Jaccard components, min-id canonical) -> semantic (SemDeDup
    leader-keep on embeddings, doc_id = vec_id; docs without an
    embedding pass through) — the one-row-per-stage observability
    report every curation run publishes before committing a release
    (which family is doing the work, and whether a stage suddenly
    eating 30% of the corpus is signal or regression).

    Pure composition of the four hash-proven keep kernels; each stage
    is an intersection of keep-sets, so the report is engine-exact
    integers.

    100 TB shape: inherits each kernel's own plan (hash-groupBy, df-
    capped pair join + components, cell-blocked semantic); the funnel
    adds only doc_id-keyed semi-joins and four tiny count rows."""
    from .dedup import (
        connected_components,
        dedup_keep_first,
        neardup_keep_canonical,
        ngram_jaccard_pairs,
    )
    from .semdedup import semantic_dedup

    out = None
    for name, frame in _funnel_keepsets(docs, emb, comp):
        row = frame.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )
        out = row if out is None else out.unionByName(row)
    return out


def _funnel_keepsets(docs, emb, comp=None):
    """The cumulative keep-set frames behind the funnel reports —
    shared by dedup_funnel (doc counts) and dedup_savings (character
    mass) so the two dashboards can never disagree on membership."""
    from .dedup import (
        connected_components,
        dedup_keep_first,
        neardup_keep_canonical,
        ngram_jaccard_pairs,
    )
    from .semdedup import semantic_dedup

    k1 = dedup_keep_first(docs).select("doc_id").localCheckpoint(eager=False)
    if comp is None:
        comp = connected_components(
            ngram_jaccard_pairs(docs).select("doc_a", "doc_b")
        )
    near = neardup_keep_canonical(docs, comp).select("doc_id")
    k2 = k1.join(near, "doc_id", "left_semi").localCheckpoint(eager=False)
    sem = semantic_dedup(emb).select(F.col("vec_id").alias("doc_id"), "kept")
    k3 = (
        k2.join(sem, "doc_id", "left")
        .where(F.col("kept").isNull() | F.col("kept"))
        .select("doc_id")
    )
    return [
        ("1_raw", docs.select("doc_id")),
        ("2_exact", k1),
        ("3_near", k2),
        ("4_semantic", k3),
    ]


def dedup_savings(
    docs: DataFrame, emb: DataFrame, comp: DataFrame | None = None
) -> DataFrame:
    """(stage, n_docs, total_chars, removed_docs, removed_chars,
    removed_frac): the funnel in CHARACTER MASS — the number a storage
    and training-budget owner actually acts on (a stage that removes
    1% of documents but 30% of characters is killing giant mirrors; the
    reverse is killing boilerplate stubs).  Same cumulative keep-sets
    as corpus_dedup_funnel (shared helper, cannot drift); mass comes
    from the documents table's n_chars.

    All integer sums + one division per row — engine-exact.

    100 TB shape: inherits each keep kernel's plan; adds only
    doc_id-keyed joins onto the (doc_id, n_chars) projection and four
    2-column aggregate rows."""
    chars = docs.select("doc_id", F.col("n_chars").cast("long").alias("nc"))
    # 1-row corpus totals, crossJoined into every stage row: checkpoint
    # so the totals scan runs once, not once per funnel stage (r11,
    # guide §5 — 4 of the plan's 18 parquet scans were this subtree).
    raw = docs.agg(
        F.count(F.lit(1)).cast("long").alias("raw_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("raw_chars"),
    ).localCheckpoint(eager=False)
    out = None
    for name, frame in _funnel_keepsets(docs, emb, comp):
        row = (
            frame.join(chars, "doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("nc").cast("long").alias("total_chars"),
            )
            .crossJoin(F.broadcast(raw))
            .select(
                F.lit(name).alias("stage"),
                "n_docs",
                "total_chars",
                (F.col("raw_docs") - F.col("n_docs")).cast("long").alias("removed_docs"),
                (F.col("raw_chars") - F.col("total_chars"))
                .cast("long")
                .alias("removed_chars"),
                (
                    (F.col("raw_chars") - F.col("total_chars"))
                    / F.col("raw_chars")
                ).alias("removed_frac"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import components_for

    return dedup_savings(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        comp=components_for(spark, sf_dir),
    )


def _q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import components_for

    return dedup_funnel(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        comp=components_for(spark, sf_dir),
    )


QUERIES.update(
    {
        "corpus_dedup_funnel": _q_dedup_funnel,
        "corpus_dedup_savings": _q_dedup_savings,
    }
)

# Composed verbatim from the hash-verified keep-set oracles.
from .dedup import ORACLES as _DEDUP_ORACLES  # noqa: E402
from .semdedup import ORACLES as _SEM_ORACLES  # noqa: E402

ORACLES.update(
    {
        "corpus_dedup_funnel": f"""
WITH k1 AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
near_keep AS ({_DEDUP_ORACLES["dedup_near_keep"]}),
sem AS ({_SEM_ORACLES["dedup_semantic"]}),
k2 AS (SELECT k1.doc_id FROM k1 JOIN near_keep USING (doc_id)),
k3 AS (
  SELECT k2.doc_id FROM k2 LEFT JOIN sem ON sem.vec_id = k2.doc_id
  WHERE sem.kept IS NULL OR sem.kept
)
SELECT '1_raw' AS stage, count(*)::BIGINT AS n_docs FROM documents
UNION ALL SELECT '2_exact', count(*)::BIGINT FROM k1
UNION ALL SELECT '3_near', count(*)::BIGINT FROM k2
UNION ALL SELECT '4_semantic', count(*)::BIGINT FROM k3
""",
        "corpus_dedup_savings": f"""
WITH k1 AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
near_keep AS ({_DEDUP_ORACLES["dedup_near_keep"]}),
sem AS ({_SEM_ORACLES["dedup_semantic"]}),
k2 AS (SELECT k1.doc_id FROM k1 JOIN near_keep USING (doc_id)),
k3 AS (
  SELECT k2.doc_id FROM k2 LEFT JOIN sem ON sem.vec_id = k2.doc_id
  WHERE sem.kept IS NULL OR sem.kept
),
raw AS (
  SELECT count(*)::BIGINT AS raw_docs, sum(n_chars)::BIGINT AS raw_chars
  FROM documents
),
st AS (
  SELECT '1_raw' AS stage, count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS total_chars FROM documents
  UNION ALL
  SELECT '2_exact', count(*)::BIGINT, sum(d.n_chars)::BIGINT
  FROM k1 JOIN documents d USING (doc_id)
  UNION ALL
  SELECT '3_near', count(*)::BIGINT, sum(d.n_chars)::BIGINT
  FROM k2 JOIN documents d USING (doc_id)
  UNION ALL
  SELECT '4_semantic', count(*)::BIGINT, sum(d.n_chars)::BIGINT
  FROM k3 JOIN documents d USING (doc_id)
)
SELECT st.stage, st.n_docs, st.total_chars,
       (raw.raw_docs - st.n_docs)::BIGINT AS removed_docs,
       (raw.raw_chars - st.total_chars)::BIGINT AS removed_chars,
       (raw.raw_chars - st.total_chars) / raw.raw_chars AS removed_frac
FROM st CROSS JOIN raw
""",
    }
)
