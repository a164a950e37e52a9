"""Corpus vocabulary induction + out-of-vocabulary scoring.

A training pipeline needs a corpus-level view of its token
distribution: which tokens make the vocabulary, and which documents
are mostly tail tokens (OCR noise, boilerplate IDs, foreign scripts)
— the standard "rare word ratio" quality gate.

Two operators:

- ``vocab_top``: corpus term frequencies, keeping the TOP-K tokens by
  (tf desc, tok asc) — the fixed-size-vocabulary contract real
  tokenizers use (a tf *threshold* is vacuous on the 31-token fixture
  corpus: every token occurs 26+ times at sf0.01).  One explode + one
  hash agg — the wordcount shuffle, map-side-combinable — then an
  orderBy/limit over the (vocab-sized, tiny) frequency table.
- ``oov_score``: per-doc whitespace-token total vs how many of those
  occurrences fall OUTSIDE the vocabulary.  All integers, so the
  DuckDB oracle is bit-exact.  The (tf, tok) tie-break makes the K-th
  vocab slot deterministic across engines.

100 TB shape: the vocabulary is K rows by construction, so it
BROADCASTS — the scoring pass is scan -> explode -> broadcast
left-anti -> hash agg, never a shuffle keyed on the (Zipf-skewed)
token.  Joining tokens against a shuffled vocab table would put 'the'
on one reducer; the broadcast anti-join keeps hot tokens
embarrassingly parallel.  The vocab build itself IS token-keyed, but
it's a partial-agg count (the combiner eats the skew before the
exchange), and the top-K sort runs over vocab-cardinality rows, not
corpus rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .dedup import _words

VOCAB_K = 24


def _doc_tokens(docs: DataFrame) -> DataFrame:
    # explode_outer + isNotNull (not plain explode): keeps the split
    # from being re-inlined into a generated size()>0 filter.
    w = docs.select("doc_id", _words(F.col("text")).alias("w"))
    return (
        w.select("doc_id", F.explode_outer("w").alias("tok"))
        .where(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )


def vocab_top(docs: DataFrame, k: int = VOCAB_K) -> DataFrame:
    """(tok, tf) for the top-k tokens by corpus frequency,
    deterministic under ties via the token string."""
    return (
        _doc_tokens(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("tok"))
        .limit(k)
    )


def oov_score(docs: DataFrame, k: int = VOCAB_K) -> DataFrame:
    """(doc_id, n_tokens, n_oov): token occurrences per doc, and how
    many fall outside the top-k vocabulary.  Docs with no tokens are
    kept (0, 0) — a quality gate must see empty docs, not drop them."""
    toks = _doc_tokens(docs)
    vocab = vocab_top(docs, k).select("tok")
    # ONE per-doc aggregate (r11, guide §2.3 "aggregate before you
    # shuffle"): the vocab is DISTINCT tokens, so a broadcast LEFT
    # join cannot multiply occurrence rows and n_oov is simply the
    # count of occurrences with no vocab match — the r10 shape ran
    # TWO aggregation subtrees over separately re-tokenized streams
    # (anti-join + totals) and re-joined them on doc_id (8 parquet
    # scans in the physical plan; now 3: vocab build, scoring pass,
    # and the doc_id spine that keeps empty docs).  Same integers.
    iv = F.broadcast(vocab.withColumn("iv", F.lit(1)))
    per = (
        toks.join(iv, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0).cast("long")).alias("n_oov"),
        )
    )


def rarity_score(docs: DataFrame, head_k: int = VOCAB_K) -> DataFrame:
    """(doc_id, n_tokens, rarity): integer surprisal proxy — each token
    occurrence contributes ``total_corpus_tokens div tf(token)`` (a
    rare tf=1 token adds the whole corpus size; 'the' adds ~1).  Pure
    integer division, so the DuckDB oracle is bit-exact — no log()
    whose last ulp differs between libm and the JVM.

    100 TB shape (the skew-aware token join): scoring needs tf per
    token occurrence, and a plain shuffle join on token puts every
    'the' on one reducer.  Split the frequency table: the top
    ``head_k`` tokens (the Zipf head that causes the skew — and by
    Zipf's law the vast majority of occurrences) BROADCAST; only tail
    tokens, which are rare by construction and therefore evenly
    spread, take the shuffle join.  The wordcount agg itself is
    map-side combined as usual.
    """
    toks = _doc_tokens(docs)
    # tf is vocab-cardinality-sized: localCheckpoint it (r11, guide §5)
    # so total/weights/head derive from the materialized table instead
    # of re-expanding the corpus wordcount per consumer — the join
    # formulation re-scanned the parquet 18x in the physical plan; now
    # 3 scans (wordcount pass + the two skew-split scoring legs).
    tf = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    total = tf.agg(F.sum("tf").cast("long").alias("total"))
    weights = (
        tf.crossJoin(F.broadcast(total))
        .select("tok", F.expr("total div tf").cast("long").alias("wt"))
    )
    head = (
        tf.orderBy(F.desc("tf"), F.asc("tok")).limit(head_k).select("tok")
    )
    head_w = weights.join(F.broadcast(head), "tok")
    tail_w = weights.join(F.broadcast(head), "tok", "left_anti")
    scored = (
        toks.join(F.broadcast(head_w), "tok")
        .unionByName(toks.join(tail_w, "tok"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("wt").cast("long").alias("rarity"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("rarity", F.lit(0).cast("long")).alias("rarity"),
        )
    )


MERGE_K = 20


def bpe_merge_candidates(docs: DataFrame, k: int = MERGE_K) -> DataFrame:
    """Top-k adjacent character pairs by corpus occurrence — the
    statistic the first BPE merge iteration maximizes (full BPE is
    iterative re-tokenization; the candidate count is the per-iteration
    primitive and is what distributes: one explode + one wordcount-
    style agg per iteration, driver picks the argmax merge).

    Pairs are counted over token OCCURRENCES (frequency-weighted, as
    BPE training does), per-position: 'aaa' contributes 'aa' twice.
    Integer counts, (cnt desc, pair asc) tie-break — engine-exact.

    100 TB shape: explode of length-1 window pairs streams through
    codegen; the count agg is map-side combined on a key space bounded
    by |charset|² — broadcast-sized output regardless of corpus."""
    toks = _doc_tokens(docs)
    # guard len>=2 BEFORE sequence(): Spark's sequence(1, 0) counts
    # DOWN ([1, 0]), it is not empty — a 1-char token would emit junk
    # positions without the when().
    grams = F.when(
        F.length("tok") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("tok") - 1),
            lambda i: F.col("tok").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = (
        toks.select(F.explode_outer(grams).alias("pair"))
        .where(F.col("pair").isNotNull())
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(k)
    )


BPE_N_MERGES = 10


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_N_MERGES,
    sample_fraction: float | None = None,
    sample_seed: int = 42,
    merges_per_round: int = 1,
) -> DataFrame:
    """Full iterative BPE training (Sennrich-style): learn ``n_merges``
    merge rules from the corpus, each chosen as the most frequent
    adjacent SYMBOL pair weighted by word frequency, ties broken
    (count desc, pair asc) so the learned tokenizer is deterministic.

    ``bpe_merge_candidates`` is one iteration's counting primitive;
    this is the trainer that loops it.  Like every real BPE trainer,
    iterations run on the WORD VOCABULARY (word -> corpus frequency),
    not the corpus: one corpus-sized wordcount shuffle up front, then
    every iteration touches vocab-cardinality rows only.

    Per iteration: (a) explode each vocab word's current symbol
    sequence into adjacent pairs weighted by word freq, aggregate, and
    collect the single argmax row (a 1-row collect, the same bounded
    driver probe as connected_components' convergence check); (b)
    apply that merge to every vocab word with a left-to-right
    aggregate scan (the greedy non-overlapping merge order BPE
    specifies); (c) localCheckpoint to truncate lineage, as in
    connected_components.  Interpreted higher-order functions are fine
    here BECAUSE the data is vocab-sized — the corpus never re-enters.

    Output: one row per learned rule (rank, left, right, merged, cnt).
    Oracled since round 6: the merge count is a fixed constant, so the
    whole training loop unrolls into chained SQL stages (see
    ``_bpe_oracle_ctes``) and the driver value-checks every learned
    rule; the semantics test additionally pins the classic
    hand-computable corpus.

    100 TB shape: the corpus-sized work is exactly one wordcount (the
    skew-eating partial agg from vocab_top); n_merges scales the JOB
    COUNT, not any shuffle's size.  That job count is the real wall —
    a 50k-merge production vocabulary at one sequential Spark job per
    merge is a driver-latency cliff no per-job plan can fix, which is
    why every real pipeline trains BPE on a bounded sample.  Two
    documented bounds (VERDICT r6 #4):

    - ``sample_fraction``: seeded Bernoulli sample of the corpus
      BEFORE the wordcount.  BPE argmaxes are frequency ratios, so
      high-frequency merges are stable under sampling; the pytest pins
      sample-trained ≡ full-trained rules on the fixture corpus.
    - ``merges_per_round``: pick up to k argmax pairs per counting
      round, greedily filtered (driver-side, on the collected top
      rows) so no symbol — including each pick's merged output — can
      occur in another pick.  Disjointness keeps each pick's count
      invariant under the others' application, so every picked rule
      is individually identical to a sequential pick; the batch only
      forgoes merges-onto-just-merged-tokens until the next round
      (standard batched-BPE approximation).  Job count drops k-fold:
      one counting job + ONE chained apply job per round.

    Defaults (no sample, k=1) are the exact sequential trainer the
    driver oracle replays."""
    merges, _ = _bpe_loop(
        docs, n_merges, sample_fraction=sample_fraction,
        sample_seed=sample_seed, merges_per_round=merges_per_round,
    )
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "rank long, left string, right string, merged string, cnt long"
    )


def _bpe_loop(
    docs: DataFrame,
    n_merges: int,
    sample_fraction: float | None = None,
    sample_seed: int = 42,
    merges_per_round: int = 1,
):
    """Shared BPE training loop: returns (merges list, final vocab DF
    (tok, freq, syms)) — bpe_train reports the rules, bpe_encode uses
    the trained symbol table itself."""
    if sample_fraction is not None and sample_fraction < 1.0:
        docs = docs.sample(fraction=sample_fraction, seed=sample_seed)
    vocab = (
        _doc_tokens(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # initial symbol sequence = characters
    syms = F.transform(
        F.sequence(F.lit(1), F.length("tok")), lambda i: F.col("tok").substr(i, F.lit(1))
    )
    cur = vocab.select("tok", "freq", syms.alias("syms")).localCheckpoint()

    merges = []
    while len(merges) < n_merges:
        k = min(max(1, merges_per_round), n_merges - len(merges))
        pairs = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("syms") - 2),
                lambda i: F.struct(
                    F.get("syms", i).alias("l"), F.get("syms", i + 1).alias("r")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        top = (
            cur.select(F.explode_outer(pairs).alias("p"), "freq")
            .where(F.col("p").isNotNull())
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p.l"), F.asc("p.r"))
            .limit(4 * k)
            .collect()
        )
        if not top:
            break
        # greedy symbol-disjoint batch (k=1 degenerates to the exact
        # sequential argmax): no symbol of a pick — including its
        # merged output — may occur in another pick, so each pick's
        # count is invariant under the others' application.
        batch, used = [], set()
        for row in top:
            left, right, cnt = row["p"]["l"], row["p"]["r"], row["cnt"]
            symset = {left, right, left + right}
            if used & symset:
                continue
            batch.append((left, right, cnt))
            used |= symset
            if len(batch) == k:
                break
        syms_col = F.col("syms")
        for left, right, cnt in batch:
            merges.append((len(merges) + 1, left, right, left + right, cnt))
            syms_col = _merge_scan(syms_col, left, right)
        # ONE chained apply job per round, regardless of batch size
        cur = cur.select("tok", "freq", syms_col.alias("syms")).localCheckpoint()

    return merges, cur


def _merge_scan(syms_col, left: str, right: str):
    """Greedy left-to-right non-overlapping application of one merge
    rule via aggregate scan: state = (out, carry); flush carry unless
    it pairs with the current symbol."""
    l_lit, r_lit = F.lit(left), F.lit(right)
    return F.aggregate(
        syms_col,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit("").alias("carry"),
        ),
        lambda st, s: F.when(
            (st["carry"] == l_lit) & (s == r_lit),
            F.struct(
                F.concat(st["out"], F.array(F.lit(left + right))).alias("out"),
                F.lit("").alias("carry"),
            ),
        ).otherwise(
            F.struct(
                F.when(st["carry"] == "", st["out"]).otherwise(
                    F.concat(st["out"], F.array(st["carry"]))
                ).alias("out"),
                s.alias("carry"),
            )
        ),
        lambda st: F.when(st["carry"] == "", st["out"]).otherwise(
            F.concat(st["out"], F.array(st["carry"]))
        ),
    )


def bpe_encode(docs: DataFrame, n_merges: int = BPE_N_MERGES) -> DataFrame:
    """Tokenize the corpus with a just-trained BPE: per document, the
    whitespace-token count and the BPE-symbol count after ``n_merges``
    learned merges (the number every "tokens seen" training budget is
    denominated in).

    The encode itself is the classic distinct-word trick: training
    already produced the encoded symbol sequence for every DISTINCT
    word (vocab-cardinality rows, JVM-side aggregate-scan merges — no
    Python in the loop), so encoding the corpus is one broadcast join
    of the corpus token stream against ``(tok -> |syms|)`` plus a
    per-doc sum.  Oracled since round 6 (the unrolled training replay
    feeds a widths CTE); the pytest pin additionally compares against
    an independent pure-Python BPE encoder end-to-end.

    100 TB shape: corpus-sized work = the wordcount (training) + one
    scan with a broadcast hash join (encoding); the hot Zipf head hits
    the broadcast map, never a token-keyed shuffle.  Output (doc_id,
    n_tokens, n_bpe_tokens)."""
    _, encoded = _bpe_loop(docs, n_merges)
    width = encoded.select("tok", F.size("syms").cast("long").alias("n_syms"))
    toks = _doc_tokens(docs)
    per_doc = (
        toks.join(F.broadcast(width), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("n_bpe_tokens", F.lit(0).cast("long")).alias("n_bpe_tokens"),
        )
    )


def token_coverage(docs: DataFrame) -> DataFrame:
    """Zipf coverage curve: for each decile of total token mass (10%,
    20%, ... 90%), the smallest vocabulary size (most-frequent-first)
    whose occurrences cover it — the curve that sizes a tokenizer's
    vocab and quantifies corpus diversity.

    Pure integers end to end: thresholds are ceil(total*k/10) via
    integer division, and the partial class contributes
    ceil(remaining/tf) tokens — no float ratios, so the DuckDB oracle
    is bit-exact.  Ties inside a frequency class are immaterial
    because any tokens of equal tf are interchangeable for coverage.

    100 TB shape: the corpus-sized work is the one wordcount shuffle
    (map-side combined).  Then the tf table COLLAPSES to frequency
    CLASSES — group by tf — whose cardinality is bounded by the
    distinct frequency values (≤ O(√total_mass), thousands at worst),
    and the running-sum window plus the 9-row decile cross join run on
    that class table: driver-trivial regardless of corpus size.  Same
    histogram-collapse trick as corpus_length_deciles.

    Output (pct, vocab_size, cum_tokens)."""
    from pyspark.sql.window import Window

    tf = _doc_tokens(docs).groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    classes = tf.groupBy("tf").agg(F.count(F.lit(1)).alias("n_toks"))
    w = Window.orderBy(F.desc("tf")).rowsBetween(Window.unboundedPreceding, 0)
    run = classes.select(
        "tf",
        "n_toks",
        (F.col("tf") * F.col("n_toks")).alias("mass"),
        F.sum(F.col("tf") * F.col("n_toks")).over(w).alias("cum_mass"),
        F.sum("n_toks").over(w).alias("cum_vocab"),
    ).select(
        "tf",
        "cum_mass",
        "cum_vocab",
        (F.col("cum_mass") - F.col("mass")).alias("prev_mass"),
        (F.col("cum_vocab") - F.col("n_toks")).alias("prev_vocab"),
    )
    total = tf.agg(F.sum("tf").cast("long").alias("total"))
    deciles = (
        docs.sparkSession.range(1, 10)
        .select((F.col("id") * 10).cast("long").alias("pct"))
        .crossJoin(F.broadcast(total))
        .select(
            "pct",
            F.expr("(total * pct + 99) div 100").cast("long").alias("threshold"),
        )
    )
    hit = (
        run.crossJoin(F.broadcast(deciles))
        .where(
            (F.col("prev_mass") < F.col("threshold"))
            & (F.col("threshold") <= F.col("cum_mass"))
        )
        .select(
            "pct",
            (
                F.col("prev_vocab")
                + F.expr("(threshold - prev_mass + tf - 1) div tf")
            )
            .cast("long")
            .alias("vocab_size"),
            (
                F.col("prev_mass")
                + F.expr("(threshold - prev_mass + tf - 1) div tf") * F.col("tf")
            )
            .cast("long")
            .alias("cum_tokens"),
        )
    )
    return hit


# --- queries()/oracle_sql() registrations ---------------------------------


def _q_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    return oov_score(load_table(spark, sf_dir, "documents").select("doc_id", "text"))


def _q_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_merge_candidates(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _q_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rarity_score(load_table(spark, sf_dir, "documents").select("doc_id", "text"))


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train(load_table(spark, sf_dir, "documents").select("doc_id", "text"))


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode(load_table(spark, sf_dir, "documents").select("doc_id", "text"))


def _q_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_coverage(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


QUERIES = {
    "text_oov_score": _q_oov,
    "tokenizer_merges": _q_bpe,
    "text_rarity_score": _q_rarity,
    "tokenizer_bpe_train": _q_bpe_train,  # oracled r6 (unrolled merge replay)
    "tokenizer_bpe_encode": _q_bpe_encode,  # oracled r6 (unrolled merge replay)
    "text_token_coverage": _q_coverage,
}


def _bpe_oracle_ctes(n_merges: int) -> str:
    """BPE training replayed as ``n_merges`` UNROLLED CTE stages (the
    merge count is a fixed module constant, so no recursion is needed).

    Symbol sequences ride as a chr(31)-separated string with a LEADING
    separator per symbol ('\\x1fa\\x1fb...'), which makes DuckDB's
    left-to-right non-overlapping ``replace`` of '\\x1fl\\x1fr' ->
    '\\x1flr' EXACTLY the Spark carry-scan merge (adjacent matches
    share no boundary characters, so [a,a,a] under merge (a,a) yields
    [aa,a] in both).  Each stage: adjacent-pair counts weighted by
    word freq, argmax with the (cnt DESC, l ASC, r ASC) tie-break,
    apply.  Work per stage is vocab-cardinality rows — the corpus is
    touched once by the wordcount, mirroring the Spark trainer."""
    parts = ["""tokens AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE tok IS NOT NULL AND tok <> ''
),
v0 AS (
  SELECT tok, count(*)::BIGINT AS freq,
         regexp_replace(tok, '(.)', chr(31) || '\\1', 'g') AS s
  FROM tokens GROUP BY tok
)"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""pc{k} AS (
  SELECT p.l AS l, p.r AS r, sum(freq)::BIGINT AS cnt
  FROM (
    SELECT freq, unnest(list_transform(generate_series(1, len(sy) - 1),
                                       i -> {{'l': sy[i], 'r': sy[i+1]}})) AS p
    FROM (SELECT freq, string_split(s, chr(31))[2:] AS sy FROM v{k - 1})
  )
  GROUP BY 1, 2
),
best{k} AS (SELECT l, r, cnt FROM pc{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
v{k} AS (
  SELECT tok, freq,
         replace(s, chr(31) || b.l || chr(31) || b.r, chr(31) || b.l || b.r) AS s
  FROM v{k - 1} CROSS JOIN best{k} b
)""")
    return ",\n".join(parts)


ORACLES = {
    "tokenizer_bpe_train": "WITH " + _bpe_oracle_ctes(BPE_N_MERGES) + "\n"
    + "\nUNION ALL\n".join(
        f'SELECT {k}::BIGINT AS rank, l AS "left", r AS "right", '
        f"l || r AS merged, cnt FROM best{k}"
        for k in range(1, BPE_N_MERGES + 1)
    ),
    "tokenizer_bpe_encode": "WITH " + _bpe_oracle_ctes(BPE_N_MERGES) + f""",
widths AS (
  SELECT tok, (len(string_split(s, chr(31))) - 1)::BIGINT AS n_syms
  FROM v{BPE_N_MERGES}
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(n_syms)::BIGINT AS n_bpe_tokens
  FROM tokens t JOIN widths w USING (tok)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0)::BIGINT AS n_tokens,
       COALESCE(p.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
    "text_token_coverage": """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT tok, count(*)::BIGINT AS tf FROM toks WHERE tok <> '' GROUP BY tok
),
classes AS (SELECT tf, count(*)::BIGINT AS n_toks FROM tf GROUP BY tf),
run AS (
  SELECT tf,
         sum(tf * n_toks) OVER (ORDER BY tf DESC)::BIGINT AS cum_mass,
         sum(n_toks) OVER (ORDER BY tf DESC)::BIGINT AS cum_vocab,
         (sum(tf * n_toks) OVER (ORDER BY tf DESC) - tf * n_toks)::BIGINT AS prev_mass,
         (sum(n_toks) OVER (ORDER BY tf DESC) - n_toks)::BIGINT AS prev_vocab
  FROM classes
),
tot AS (SELECT sum(tf)::BIGINT AS total FROM tf),
deciles AS (
  SELECT (k * 10)::BIGINT AS pct, ((total * k * 10 + 99) // 100)::BIGINT AS threshold
  FROM generate_series(1, 9) AS g(k), tot
)
SELECT pct,
       (prev_vocab + (threshold - prev_mass + tf - 1) // tf)::BIGINT AS vocab_size,
       (prev_mass + ((threshold - prev_mass + tf - 1) // tf) * tf)::BIGINT AS cum_tokens
FROM run CROSS JOIN deciles
WHERE prev_mass < threshold AND threshold <= cum_mass
""",
    "text_rarity_score": """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
toks_ne AS (
  SELECT doc_id, tok FROM toks WHERE tok IS NOT NULL AND tok <> ''
),
tf AS (SELECT tok, count(*)::BIGINT AS tf FROM toks_ne GROUP BY tok),
tot AS (SELECT sum(tf)::BIGINT AS total FROM tf),
w AS (SELECT tok, (total // tf)::BIGINT AS wt FROM tf, tot),
per_doc AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_tokens, sum(w.wt)::BIGINT AS rarity
  FROM toks_ne t JOIN w USING (tok)
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(p.rarity, 0)::BIGINT AS rarity
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
""",
    "text_oov_score": f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
toks_ne AS (
  SELECT doc_id, tok FROM toks WHERE tok IS NOT NULL AND tok <> ''
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS tf FROM toks_ne GROUP BY tok
    ORDER BY tf DESC, tok ASC LIMIT {VOCAB_K}
  )
),
oov AS (
  SELECT doc_id, count(*)::BIGINT AS n_oov
  FROM toks_ne t ANTI JOIN vocab v USING (tok)
  GROUP BY doc_id
),
totals AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens FROM toks_ne GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(o.n_oov, 0)::BIGINT AS n_oov
FROM documents d
LEFT JOIN totals t ON d.doc_id = t.doc_id
LEFT JOIN oov o ON d.doc_id = o.doc_id
""",
    "tokenizer_merges": f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(tok) - 1),
                               i -> substring(tok, i, 2))) AS pair
  FROM toks WHERE tok <> '' AND len(tok) >= 2
)
SELECT pair, count(*)::BIGINT AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair ASC
LIMIT {MERGE_K}
""",
}


# --- round-8 addition: Zipf slope fit -------------------------------------

ZIPF_N = 256


def zipf_slope(docs: DataFrame, n: int = ZIPF_N) -> DataFrame:
    """1-row (n_tokens_fit, slope, intercept): OLS fit of
    ln(frequency) on ln(rank) over the top-``n`` corpus tokens — the
    Zipf-law exponent.  A natural-language corpus sits near slope -1;
    a drift toward 0 flags templated/boilerplate-heavy feeds and a
    steep slope flags vocabulary collapse (e.g. deduped-to-death or
    single-domain data) — a one-number corpus-health dial next to
    ``corpus_vocab_growth``'s Heaps fit.

    Exactness: both logs go through the lm.py SNAPPED micro-nat
    quantizer (``lm._qlog`` — 1-ulp-safe, tests/test_lm_ulp_stability
    discipline), so x, y and all OLS moment sums are exact integers;
    slope is ONE division of two DECIMAL-exact values cast to double,
    and the intercept derives from the same exact integers.

    100 TB shape: one map-side-combined token count (the vocab_top
    aggregate), a distributed partial top-k (TakeOrdered — never a
    global sort), then all arithmetic happens on ``n`` rows."""
    from pyspark.sql.window import Window

    from .lm import _qlog

    tf = _doc_tokens(docs).groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    top = tf.orderBy(F.desc("tf"), F.asc("tok")).limit(n)
    ranked = top.select(
        "tf",
        F.row_number()
        .over(Window.orderBy(F.desc("tf"), F.asc("tok")))
        .alias("rank"),
    )
    q = ranked.select(
        _qlog(F.col("rank").cast("double")).alias("x"),
        _qlog(F.col("tf").cast("double")).alias("y"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    return s.select(
        F.col("n").alias("n_tokens_fit"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
            / F.lit(1e6)  # micro-nats -> nats (slope is unit-free)
        ).alias("intercept"),
    )


def _q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_slope(load_table(spark, sf_dir, "documents"))


QUERIES.update({"corpus_zipf_slope": _q_zipf_slope})

ORACLES.update(
    {
        "corpus_zipf_slope": f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT tok, count(*)::BIGINT AS tf FROM toks
  WHERE tok IS NOT NULL AND tok <> '' GROUP BY 1
),
top AS (SELECT tok, tf FROM tf ORDER BY tf DESC, tok ASC LIMIT {ZIPF_N}),
ranked AS (
  SELECT tf, row_number() OVER (ORDER BY tf DESC, tok ASC) AS rank FROM top
),
q AS (
  SELECT
    CAST(floor((floor(ln(rank::DOUBLE) * 1e9) + 500) / 1000.0) AS BIGINT) AS x,
    CAST(floor((floor(ln(tf::DOUBLE) * 1e9) + 500) / 1000.0) AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM q
)
SELECT n AS n_tokens_fit,
       (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope,
       (sy::DOUBLE - (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
                     * sx::DOUBLE) / n / 1e6 AS intercept
FROM s
""",
    }
)


# --- round-8 addition: tokenizer fertility by language ----------------------


def token_fertility(docs: DataFrame, n_merges: int = BPE_N_MERGES) -> DataFrame:
    """(lang, n_docs, n_words, n_bpe_tokens, fertility): BPE tokens
    per whitespace word, by language — the tokenizer-equity dashboard
    (a tokenizer trained on mixed data "taxes" under-represented
    languages with higher fertility — more tokens per word means more
    compute and shorter effective context for the same text; the
    standard multilingual-tokenizer evaluation).

    Composed on the merge-replay-verified ``bpe_encode`` per-doc
    counts: the join adds lang, the per-lang sums are exact integers,
    fertility is ONE BIGINT/BIGINT -> DOUBLE division.

    100 TB shape: inherits bpe_encode's one-corpus-pass + vocab-sized
    merge table; the fertility agg is |langs| rows."""
    enc = bpe_encode(docs.select("doc_id", "text"), n_merges)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens") / F.col("n_words")).alias("fertility"),
        )
    )


def _q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_fertility(load_table(spark, sf_dir, "documents"))


QUERIES.update({"corpus_token_fertility": _q_token_fertility})

# Composed from the tokenizer_bpe_encode merge-replay oracle.
ORACLES["corpus_token_fertility"] = f"""
WITH enc AS ({ORACLES["tokenizer_bpe_encode"]})
SELECT d.lang, count(*)::BIGINT AS n_docs,
       sum(e.n_tokens)::BIGINT AS n_words,
       sum(e.n_bpe_tokens)::BIGINT AS n_bpe_tokens,
       sum(e.n_bpe_tokens)::BIGINT / sum(e.n_tokens)::BIGINT AS fertility
FROM enc e JOIN documents d USING (doc_id)
GROUP BY d.lang
"""
