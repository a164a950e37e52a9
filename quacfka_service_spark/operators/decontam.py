"""Benchmark decontamination — flag training documents that share an
n-gram with an evaluation/benchmark set.

The standard pretraining hygiene step (GPT-3 appendix C / PaLM-style
13-gram overlap, scaled down to the fixture corpus): any training doc
sharing at least one distinct word n-gram with any benchmark doc is
"contaminated" and must be dropped or flagged before training.

There is no RNG and no Python: the benchmark membership predicate is a
deterministic id rule (``doc_id % BENCH_MOD == 0`` — in production this
would be the eval-suite table), n-grams are built with the same
higher-order-function column algebra as dedup.py's shingles, and the
overlap is an equi-join on the gram string.

100 TB shape: the benchmark side is tiny by construction (an eval
suite is KBs–MBs), so its distinct-gram set broadcasts; the train side
is explode -> broadcast-hash-semi-join -> partial-agg countDistinct.
One shuffle (the per-doc groupBy), no corpus x corpus anything, and
the gram explode streams — nothing is materialized per-task beyond the
broadcast set.  Catalyst prunes ``text`` out of the scan after the
gram projection.

Reference parity: the reference service (quacfka-service) has no
decontamination surface; this extends the LLM-pipeline operator set
the build brief mandates (SURVEY.md north-star ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .dedup import _words

# Every 97th doc is "the benchmark" in fixture runs — ~1% of the
# corpus, mirroring a real eval suite's relative size.
BENCH_MOD = 97
# 3-grams on the fixture corpus (real pipelines use 8-13): the check
# must be non-vacuous — at sf0.01, n=3 flags 171 docs, n=5 flags 1.
NGRAM_N = 3


def _ngrams(words: Column, n: int) -> Column:
    """Distinct word n-grams; empty array below n words.  Same
    contract as dedup._shingles but parameterized in n — ``words``
    must be a resolved column reference (multi-referenced, see
    dedup.py:52)."""
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def doc_ngrams(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    w = docs.select("doc_id", _words(F.col("text")).alias("w"))
    return w.select("doc_id", _ngrams(F.col("w"), n).alias("g"))


def decontaminate(
    train: DataFrame, bench: DataFrame, n: int = NGRAM_N
) -> DataFrame:
    """(doc_id, n_hit) for every training doc sharing >= 1 distinct
    n-gram with the benchmark set; n_hit counts the distinct shared
    grams (integer — bit-exact across engines).  Docs absent from the
    output are clean."""
    # explode_outer + isNotNull, NOT plain explode: InferFiltersFromGenerate
    # would re-inline the whole n-gram transform into a pushed-down
    # size()>0 filter and evaluate it twice per row (measured 20s -> ~2s
    # at sf0.1; same trap documented at dedup.py minhash_signatures).
    bench_grams = (
        doc_ngrams(bench, n)
        .select(F.explode_outer("g").alias("s"))
        .where(F.col("s").isNotNull())
        .distinct()
    )
    # the train side streams into the broadcast join without an
    # exchange of its own
    train_grams = (
        doc_ngrams(train, n)
        .select("doc_id", F.explode_outer("g").alias("s"))
        .where(F.col("s").isNotNull())
    )
    return (
        train_grams.join(F.broadcast(bench_grams), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_hit"))
    )


def split_benchmark(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    return docs.where(~is_bench), docs.where(is_bench)


DECONTAM_N_PERM = 8  # 8 bands x 1 row: the RECALL-biased config


def decontaminate_minhash(train: DataFrame, bench: DataFrame) -> DataFrame:
    """Near-duplicate decontamination: training docs whose md5-MinHash
    signature collides with a benchmark doc in ANY permutation —
    catching light paraphrases the exact n-gram overlap misses.

    Bands are 1 row wide (collide iff one permutation minimum matches)
    — the high-recall end of the banded family, which is the right
    posture for decontamination: a false positive costs one training
    doc, a false negative leaks an eval item into pretraining.  The
    exact-gram operator above and this one are the standard two-layer
    hygiene: exact overlap for verbatim leaks, MinHash for mutated
    ones.

    Cross-corpus join (train bands x bench bands), never a self-join:
    the benchmark side is eval-suite-sized, so its band table
    BROADCASTS and the train side streams — no shuffle keyed on the
    corpus.  md5 family -> the whole pipeline is value-checked by the
    driver (same engine-portability argument as dedup_minhash_exact).

    Output: (doc_id, n_bench_candidates) per flagged training doc."""
    from .dedup import CPU_SPREAD_TARGET_BYTES, _spread, doc_shingles

    def band_table(docs: DataFrame) -> DataFrame:
        # _spread (r12): the md5-per-shingle signature CPU would
        # otherwise inherit the raw scan's 1-2 splits (see dedup._spread)
        sh = doc_shingles(_spread(docs, CPU_SPREAD_TARGET_BYTES, "doc_id"))
        ex = (
            sh.select("doc_id", F.explode_outer("sh").alias("s"))
            .where(F.col("s").isNotNull())
        )
        sig = ex.groupBy("doc_id").agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{p}|"), F.col("s")))).alias(f"m{p}")
                for p in range(DECONTAM_N_PERM)
            ]
        )
        return sig.select(
            "doc_id",
            F.posexplode(
                F.array(*[F.col(f"m{p}") for p in range(DECONTAM_N_PERM)])
            ).alias("band", "bh"),
        )

    tb = band_table(train)
    bb = band_table(bench).select(
        F.col("doc_id").alias("bench_id"), "band", "bh"
    )
    return (
        tb.join(F.broadcast(bb), ["band", "bh"])
        .groupBy("doc_id")
        .agg(F.countDistinct("bench_id").alias("n_bench_candidates"))
    )


# --- queries()/oracle_sql() registrations ---------------------------------


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train, bench = split_benchmark(docs)
    return decontaminate(train, bench)


def _q_decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train, bench = split_benchmark(docs)
    return decontaminate_minhash(train, bench)


def contamination_score(
    train: DataFrame, bench: DataFrame, n: int = NGRAM_N
) -> DataFrame:
    """Graded decontamination: per training doc, the FRACTION of its
    distinct n-grams that appear in the benchmark set — the score a
    pipeline thresholds instead of the boolean drop (`decontaminate`
    emits hit docs only; this ranks partial overlaps so borderline docs
    can be audited rather than silently kept or killed).

    Integer gram counts + an int/int double division — engine-exact.
    Docs with < n words have no grams and are absent (same contract as
    the emitters).

    100 TB shape (r11, guide §2.3/§2.4): the benchmark gram set is
    eval-suite-sized and BROADCASTS onto the train gram stream as a
    LEFT join (bench grams are distinct, so the join cannot multiply
    rows), and ONE per-doc aggregate computes both distinct counts —
    n_hit as a count_distinct over the bench-matched grams only.  The
    r10 shape tokenized the train side TWICE (separate `per`/`hits`
    aggregation subtrees over the same explode) and re-joined the two
    doc-sized frames on doc_id; now the wide side is tokenized,
    exploded and aggregated exactly once and the doc_id join is gone."""
    from .dedup import CPU_SPREAD_TARGET_BYTES, _spread

    bench_grams = (
        doc_ngrams(bench, n)
        .select(F.explode_outer("g").alias("s"))
        .where(F.col("s").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # _spread on the train side (r12): the regex-split + n-gram concat
    # + explode + broadcast-probe CPU otherwise runs on the raw scan's
    # 1-2 splits (single-row-group files locally); see dedup._spread.
    tg = (
        doc_ngrams(_spread(train, CPU_SPREAD_TARGET_BYTES, "doc_id"), n)
        .select("doc_id", F.explode_outer("g").alias("s"))
        .where(F.col("s").isNotNull())
    )
    return (
        tg.join(F.broadcast(bench_grams), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_grams"),
            F.countDistinct(F.when(F.col("hit") == 1, F.col("s"))).alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_grams").cast("double")).alias(
                "contamination"
            ),
        )
    )


def _q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, bench = split_benchmark(load_table(spark, sf_dir, "documents"))
    return contamination_score(train, bench)


QUERIES = {
    "corpus_decontaminate": _q_decontaminate,
    "corpus_decontaminate_lsh": _q_decontaminate_minhash,
    "corpus_contamination_score": _q_contamination_score,
}

_GRAM_LIST = " || ' ' || ".join(f"w[i+{j}]" for j in range(NGRAM_N))

_MD5_MINS = ", ".join(
    f"min(md5('{p}|' || s)) AS m{p}" for p in range(DECONTAM_N_PERM)
)
_MD5_STACK = "\n  UNION ALL ".join(
    f"SELECT doc_id, {p} AS band, m{p} AS bh FROM sig" for p in range(DECONTAM_N_PERM)
)

ORACLES = {
    "corpus_decontaminate_lsh": f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w) - 2),
                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [] END) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents)
),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
sig AS (SELECT doc_id, {_MD5_MINS} FROM ex GROUP BY doc_id),
st AS (
  {_MD5_STACK}
),
bench AS (SELECT doc_id AS bench_id, band, bh FROM st WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT doc_id, band, bh FROM st WHERE doc_id % {BENCH_MOD} <> 0)
SELECT t.doc_id, count(DISTINCT b.bench_id)::BIGINT AS n_bench_candidates
FROM train t JOIN bench b ON t.band = b.band AND t.bh = b.bh
GROUP BY t.doc_id
""",
    "corpus_decontaminate": f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(w) >= {NGRAM_N}
                THEN list_transform(generate_series(1, len(w) - {NGRAM_N - 1}),
                                    i -> {_GRAM_LIST})
                ELSE [] END) AS g
  FROM w
),
bench AS (
  SELECT DISTINCT unnest(g) AS s FROM g WHERE doc_id % {BENCH_MOD} = 0
),
train AS (
  SELECT doc_id, unnest(g) AS s FROM g WHERE doc_id % {BENCH_MOD} <> 0
)
SELECT t.doc_id, COUNT(DISTINCT t.s) AS n_hit
FROM train t
JOIN bench b ON t.s = b.s
GROUP BY t.doc_id
""",
    "corpus_contamination_score": f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(w) >= {NGRAM_N}
                THEN list_transform(generate_series(1, len(w) - {NGRAM_N - 1}),
                                    i -> {_GRAM_LIST})
                ELSE [] END) AS g
  FROM w
),
bench AS (
  SELECT DISTINCT unnest(g) AS s FROM g WHERE doc_id % {BENCH_MOD} = 0
),
train AS (
  SELECT doc_id, unnest(g) AS s FROM g WHERE doc_id % {BENCH_MOD} <> 0
),
per AS (SELECT doc_id, count(DISTINCT s)::BIGINT AS n_grams FROM train GROUP BY 1),
hits AS (
  SELECT t.doc_id, count(DISTINCT t.s)::BIGINT AS n_hit
  FROM train t JOIN bench b ON t.s = b.s GROUP BY 1
)
SELECT p.doc_id, p.n_grams, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       coalesce(h.n_hit, 0)::DOUBLE / p.n_grams::DOUBLE AS contamination
FROM per p LEFT JOIN hits h USING (doc_id)
""",
}
