"""Tokenizer-training operators: distributed BPE merge learning.

The reference has no tokenizer layer (its events are already discrete
species/stage symbols, consumer.py:407); this extends the engine's
training-data family with the pass every pretraining build runs before
chunking: learning a merge table from corpus statistics (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units").  Real BPE merges characters inside words; the mechanism here
is identical but operates token-level (words -> phrases, i.e. the
phrase-merge/wordpiece-over-words variant) so every intermediate stays
a plain string both engines can replay.

Distributed shape per merge round (the standard scalable BPE recipe):
one partial-aggregated pair-count shuffle, a 1-row argmax collect (the
MODEL crosses the driver, never data), and a map-side string rewrite.
The oracle unrolls all rounds as CTE levels and recomputes the argmax
itself, so the driver hash-checks that both engines learn the SAME
merge table — rule by rule, frequency by frequency.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import load_table
from .registry import query

_BPE_ROUNDS = 6

# Learned-model share (the "declared-table" convention, VERDICT r5 #4):
# the merge table is a deterministic function of the corpus, so once ANY
# query trains it in this session it is memoized per (application, data
# dir) and tok1_bpe_apply becomes the pure zero-shuffle map its
# docstring promises instead of re-running all training rounds inline.
# bpe1_merge_train always RETRAINS (it IS the training benchmark) and
# refreshes the memo; only the apply side reads it.
_MERGE_MEMO: dict[tuple[str, str], list[tuple[str, str]]] = {}

# Tokens are corpus words ([a-z]+) and, after a merge, words joined by
# '+': neither ever contains the '|' separator, so '|'-delimited pair
# keys split back into exactly (lhs, rhs), and the '|l|r|' match
# pattern cannot straddle a token boundary.  Both engines' replace()
# is a left-to-right non-overlapping scan, which IS greedy BPE
# application ("a a a" + merge(a,a) -> [a+a, a]): the shared boundary
# separator is consumed by the first match, exactly like the greedy
# tokenizer.

# Adjacent-pair keys from the token array (the ql2 bigram device: the
# CASE guard avoids Spark's descending sequence(1, 0) on 1-token docs).
_PAIRS_SPARK = (
    "CASE WHEN size(t) >= 2 THEN "
    "transform(sequence(1, size(t) - 1), "
    "i -> concat(element_at(t, i), '|', "
    "element_at(t, CAST(i + 1 AS INT)))) "
    "ELSE array() END"
)


def _bpe_ckpt_every(spark: SparkSession, est_bytes: int) -> int:
    """Lineage-checkpoint cadence for the merge-train rewrite chain
    (VERDICT r12 #4): 0 = never (the replace chain stays a fused
    codegen pass — measured BEST at bench scale, 3.01 vs 3.63 s with
    per-round cuts), else checkpoint every N rounds to truncate the
    O(R²) replace-chain recompute that is real at 100 TB.

    The gate is SCALE-INVARIANT: it fires on the estimated corpus
    bytes, not core count or SF.  Below the threshold, recomputing the
    whole chain is cheaper than one corpus materialization (the r12
    measurement); above it, each pair-count pass re-running `rank`
    stacked replaces over a huge corpus dominates and the
    materialization amortizes.  Both knobs are conf-parameterised so a
    cluster profile can tune them without code changes."""
    thresh = int(
        spark.conf.get("spark.ecostream.bpe.ckptMinBytes", str(8 << 30))
    )
    every = int(spark.conf.get("spark.ecostream.bpe.ckptEvery", "3"))
    if every <= 0 or est_bytes < thresh:
        return 0
    return every


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for ``df`` (file-size-derived
    for a plain scan) — the same statistic the broadcast planner
    trusts, used here only to gate a checkpoint cadence.

    The statistic comes through private JVM APIs; if they are missing
    (no ``_jdf``, as under Spark Connect) or the JVM call fails, either
    raw or converted by PySpark, this returns 0, which turns the gate
    off instead of failing the query."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (AttributeError, Py4JError, PySparkException):
        return 0


def _bpe_oracle(rounds: int) -> str:
    """Unrolled DuckDB replay: s{k} = corpus after k merges, m{k} = the
    k-th learned rule.  range(1, len(t)) is end-exclusive (empty for
    1-token docs), and the scalar subqueries inline each round's rule
    into the next round's rewrite.

    Every tower level is ``AS MATERIALIZED``: each s{k} is consumed
    TWICE (the next round's pair count AND rewrite), and DuckDB inlines
    a plain CTE per reference, so without materialization the tower
    re-evaluates s0 ~2^rounds times — measured 17 s at sf0.1 vs 0.4 s
    materialized (VERDICT r6 #2's oracle-tower cut)."""
    parts = [
        "WITH s0 AS MATERIALIZED (SELECT doc_id,"
        " '|' || replace(text, ' ', '|') || '|' AS s FROM documents)"
    ]
    for k in range(1, rounds + 1):
        prev = f"s{k - 1}"
        parts.append(
            f""",
    p{k} AS MATERIALIZED (
        SELECT pr, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT t[i] || '|' || t[i + 1] AS pr
            FROM (SELECT list_filter(string_split(s, '|'),
                                     x -> x <> '') AS t FROM {prev}) z,
                 LATERAL (SELECT unnest(range(1, len(t))) AS i) g
        ) GROUP BY pr
    ),
    m{k} AS MATERIALIZED (
        SELECT pr, freq FROM p{k} ORDER BY freq DESC, pr LIMIT 1),
    s{k} AS MATERIALIZED (
        SELECT doc_id,
               replace(s, '|' || (SELECT pr FROM m{k}) || '|',
                       '|' || replace((SELECT pr FROM m{k}), '|', '+')
                           || '|') AS s
        FROM {prev}
    )"""
        )
    rows = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank,"
        f" string_split(pr, '|')[1] AS lhs,"
        f" string_split(pr, '|')[2] AS rhs, freq FROM m{k}"
        for k in range(1, rounds + 1)
    )
    return "".join(parts) + f" SELECT * FROM ({rows}) ORDER BY merge_rank"


@query("bpe1_merge_train", oracle=_bpe_oracle(_BPE_ROUNDS))
def bpe1_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a {n}-rule BPE merge table from the corpus: each round
    counts adjacent token pairs, adopts the most frequent pair (ties:
    lexicographically smallest key — deterministic in both engines,
    binary collation) as a merge rule, and rewrites the corpus with the
    merged token before the next count.

    Scale shape per round: ONE partial-aggregated shuffle for the pair
    counts, a 1-ROW collect for the argmax (the learned rule is the
    model — at any corpus size only the rule crosses the driver), and a
    map-side ``replace`` to apply it.  The rewrite lineage is {n} narrow
    map stages; a 100 TB run checkpoints the corpus string every few
    rounds to truncate recomputation, exactly like any iterative
    dataflow (the functions/pagerank.py discipline).  Corpus order
    never matters: pair counts are order-independent aggregates, so the
    learned table is partitioning-invariant."""
    docs = load_table(spark, sf_dir, "documents")
    cur = docs.select(
        F.concat(F.lit("|"), F.expr("replace(text, ' ', '|')"), F.lit("|")).alias("s")
    )
    ckpt_every = _bpe_ckpt_every(spark, _plan_size_bytes(docs))
    merges = []
    for rank in range(1, _BPE_ROUNDS + 1):
        toks = cur.select(
            F.expr("filter(split(s, '\\\\|'), x -> x <> '')").alias("t")
        )
        top = (
            toks.select(F.explode(F.expr(_PAIRS_SPARK)).alias("pr"))
            .groupBy("pr")
            .agg(F.count("*").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("pr"))
            .limit(1)
            .collect()
        )[0]
        lhs, rhs = top["pr"].split("|")
        merges.append((rank, lhs, rhs, int(top["freq"])))
        # tokens are [a-z+]-only (asserted by construction above), so
        # inlining them as SQL literals is injection-safe
        pat, rep = f"|{lhs}|{rhs}|", f"|{lhs}+{rhs}|"
        # Measured r12: checkpointing the rewritten corpus per round
        # (to cut the O(R²) replace-chain recompute) LOST at bench
        # scale — 3.01 → 3.63 s — because each materialization adds a
        # job + an exchange while the un-cut replace chain fuses into
        # the next round's pair-count scan as one codegen pass.  At
        # R=6 the quadratic term is far below the per-job floor; the
        # 100 TB replace-chain truncation is the GATED cadence below
        # (off at bench scale, fires on corpus bytes — VERDICT r12 #4).
        cur = cur.select(F.expr(f"replace(s, '{pat}', '{rep}')").alias("s"))
        if ckpt_every and rank % ckpt_every == 0 and rank < _BPE_ROUNDS:
            # Lazy cut: the NEXT round's pair-count job materializes it
            # (no extra job), later rounds re-read the materialized
            # corpus instead of re-running `rank` stacked replaces over
            # the scan.  Pure lineage surgery — pair counts are
            # order-independent aggregates, so the learned table is
            # unchanged (tests pin gate-on ≡ gate-off).
            cur = cur.localCheckpoint(eager=False)
    _MERGE_MEMO[(spark.sparkContext.applicationId, sf_dir)] = [
        (lhs, rhs) for _, lhs, rhs, _ in merges
    ]
    return spark.createDataFrame(
        merges, "merge_rank bigint, lhs string, rhs string, freq bigint"
    ).orderBy("merge_rank")


bpe1_merge_train.__doc__ = bpe1_merge_train.__doc__.format(n=_BPE_ROUNDS)


def _tok1_oracle(rounds: int) -> str:
    """Reuse the bpe1 CTE tower up to s{rounds}, then count the final
    tokens per document."""
    base = _bpe_oracle(rounds)
    tower = base[: base.rindex(" SELECT * FROM (")]
    return (
        tower
        + f""" SELECT doc_id,
           CAST(len(list_filter(string_split(s, '|'), x -> x <> ''))
                AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(s, '|'),
                                x -> x LIKE '%+%')) AS BIGINT)
               AS n_merged_tokens
    FROM s{rounds} ORDER BY doc_id"""
    )


@query("tok1_bpe_apply", oracle=_tok1_oracle(_BPE_ROUNDS))
def tok1_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned BPE merge table — the serving half of the
    tokenizer loop (bpe1 trains it): run the {n} merge rules in rank
    order over every document and report its post-merge token count
    plus how many tokens are merged units.  Greedy left-to-right
    application is the replace() scan itself (the bpe1 device), so
    after training the merges once, tokenization is a pure MAP over
    the corpus — zero shuffles, embarrassingly parallel, exactly how
    a 100 TB corpus is tokenized in practice (train small, apply
    wide).  The merge table is SHARED: if bpe1 (or a prior tok1) has
    already learned it this session, apply reuses the memoized rules
    and runs as the pure map; only a cold session trains here (once),
    so apply cost is scan cost, not 6 re-training rounds (VERDICT r5
    #4).  The oracle replays training AND application end to end, so
    a drifting merge table or a wrong application order fails the
    per-document hash."""
    docs = load_table(spark, sf_dir, "documents")
    memo_key = (spark.sparkContext.applicationId, sf_dir)
    merges = _MERGE_MEMO.get(memo_key)
    if merges is None:
        # cold session: train once (one pair-count shuffle + 1-row
        # collect per round); bpe1 populates the same memo when it runs
        merges = [
            (r["lhs"], r["rhs"])
            for r in bpe1_merge_train(spark, sf_dir).collect()
        ]
    s = F.concat(F.lit("|"), F.expr("replace(text, ' ', '|')"), F.lit("|"))
    cur = docs.select("doc_id", s.alias("s"))
    for lhs, rhs in merges:
        cur = cur.select(
            "doc_id",
            F.expr(
                f"replace(s, '|{lhs}|{rhs}|', '|{lhs}+{rhs}|')"
            ).alias("s"),
        )
    toks = F.expr("filter(split(s, '\\\\|'), x -> x <> '')")
    return cur.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.contains("+")))
        .cast("long")
        .alias("n_merged_tokens"),
    ).orderBy("doc_id")


tok1_bpe_apply.__doc__ = tok1_bpe_apply.__doc__.format(n=_BPE_ROUNDS)


# --- TOK2: per-source vocabulary coverage of the learned merges --------------


def _tok2_oracle(rounds: int) -> str:
    """Tower to s{rounds}, then per-source coverage statistics.

    Single-reference discipline: the tower feeds ONE exploded
    token-level scan (``g``) that yields every statistic in one grouped
    aggregation — a twice-referenced ``fin`` would make DuckDB inline
    (and re-evaluate) the whole 6-level tower per consumer, which
    measured ~4.6x the tok1 replay cost.  ``n_docs`` never needed the
    tower at all: it comes straight from ``documents``."""
    base = _bpe_oracle(rounds)
    tower = base[: base.rindex(" SELECT * FROM (")]
    return (
        tower
        + f""",
    fin AS (
        SELECT doc_id,
               list_filter(string_split(s, '|'), x -> x <> '') AS t
        FROM s{rounds}
    ),
    g AS (
        SELECT d.source, u.tok
        FROM fin f JOIN documents d USING (doc_id), UNNEST(f.t) AS u(tok)
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN tok LIKE '%+%' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_merged_tokens,
               CAST(count(DISTINCT CASE WHEN tok LIKE '%+%' THEN tok END)
                    AS BIGINT) AS n_merged_types
        FROM g GROUP BY source
    ),
    nd AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    )
    SELECT a.source, nd.n_docs, a.n_tokens, a.n_merged_tokens,
           a.n_merged_types,
           (1000 * a.n_merged_tokens) // a.n_tokens AS merge_hit_permille
    FROM agg a JOIN nd USING (source)"""
    )


@query("tok2_vocab_coverage", oracle=_tok2_oracle(_BPE_ROUNDS))
def tok2_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage evaluation of the learned BPE merges, per
    source: how many of each source's tokens land inside a merged
    unit (merge_hit_permille), and how many distinct merged types the
    source exercises — the acceptance measurement run before shipping
    a tokenizer (a domain whose hit rate collapses is under-served by
    the training corpus, the multilingual-tokenizer fairness check).

    Reuses tok1's serving path: the memoized merge table if this
    session already trained it, else one training pass; application
    stays the pure zero-shuffle map.  The statistics add one
    source-keyed partial-aggregated groupBy plus a distinct-type
    count whose exchange carries (source, type) pairs — bounded by
    vocabulary size, not corpus size.  The oracle replays training,
    application, AND both aggregations end to end.  All-integer
    permille (positive operands)."""
    docs = load_table(spark, sf_dir, "documents")
    memo_key = (spark.sparkContext.applicationId, sf_dir)
    merges = _MERGE_MEMO.get(memo_key)
    if merges is None:
        merges = [
            (r["lhs"], r["rhs"])
            for r in bpe1_merge_train(spark, sf_dir).collect()
        ]
    s = F.concat(F.lit("|"), F.expr("replace(text, ' ', '|')"), F.lit("|"))
    cur = docs.select("doc_id", "source", s.alias("s"))
    for lhs, rhs in merges:
        cur = cur.select(
            "doc_id",
            "source",
            F.expr(f"replace(s, '|{lhs}|{rhs}|', '|{lhs}+{rhs}|')").alias("s"),
        )
    toks = F.expr("filter(split(s, '\\\\|'), x -> x <> '')")
    fin = cur.select(
        "source",
        F.size(toks).alias("n_t"),
        F.filter(toks, lambda x: x.contains("+")).alias("merged"),
    )
    per = fin.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_t").cast("long").alias("n_tokens"),
        F.sum(F.size("merged")).cast("long").alias("n_merged_tokens"),
    )
    types = (
        fin.select("source", F.explode("merged").alias("tok"))
        .groupBy("source")
        .agg(F.count_distinct("tok").cast("long").alias("n_merged_types"))
    )
    return per.join(types, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_merged_tokens",
        F.coalesce("n_merged_types", F.lit(0)).cast("long").alias("n_merged_types"),
        F.expr("(1000 * n_merged_tokens) div n_tokens")
        .cast("long")
        .alias("merge_hit_permille"),
    )


# --- TOK3: unigram-LM tokenizer training (round 7) ----------------------------
#
# SentencePiece's OTHER trainer (Kudo 2018, "Subword Regularization"):
# where BPE grows a vocabulary bottom-up by merging, the unigram LM
# starts from an over-complete seed vocabulary and EM-prunes it, scoring
# candidate segmentations by their unigram log-likelihood.  bpe1/tok1/
# tok2 cover the merge half; this covers the prune half (VERDICT r6 #4).
# Like bpe1, the mechanism runs token-level (words are the base symbols,
# adjacent-word bigrams the candidate multi-word pieces) so every
# intermediate is a plain string/integer both engines replay exactly.
#
# The EM here is the hard-EM (Viterbi) variant: the E-step segments
# every document by minimum total piece cost (integer micro-nats, lm2's
# quantization device), the M-step re-estimates piece costs from
# segmentation usage with add-one smoothing and prunes bigram pieces
# that no optimal segmentation used (base unigrams are never pruned,
# exactly as SentencePiece always keeps single characters).

_UNI_INF = 1_000_000_000_000_000  # never beats a real path (<= ~2e9)
_UNI_ROUNDS = 2  # E-steps; pruning happens after round 1

# Learned-model memo, the tok1 device: (applicationId, sf_dir) ->
# [(piece, n_words, cost_micro_nats)] of the FINAL vocabulary, so the
# apply-consistency test (and any downstream segmenter) reuses the
# model without retraining.
_UNI_MEMO: dict[tuple[str, str], list[tuple[str, int, int]]] = {}


def _uni_viterbi_cte(tag: str, cost_cte: str) -> str:
    """One E-step as DuckDB CTE text: join positions with piece costs,
    then a per-document recursive Viterbi carrying (best_prev, path_prev,
    best_cur, path_cur); ties prefer the unigram step (strict < for the
    bigram), matching the Spark fold bit for bit.  ``pos`` and ``dl``
    come from the shared prologue."""
    return f""",
    pc{tag} AS MATERIALIZED (
        SELECT p.doc_id, p.i, p.word, u.cost AS ucost,
               COALESCE(b.cost, {_UNI_INF}) AS bcost,
               COALESCE(p.bkey, '') AS bkey
        FROM pos p
        JOIN {cost_cte} u ON u.piece = p.word AND u.nw = 1
        LEFT JOIN {cost_cte} b ON b.piece = p.bkey AND b.nw = 2
    ),
    v{tag} AS (
        SELECT doc_id, CAST(0 AS BIGINT) AS i,
               CAST({_UNI_INF} AS BIGINT) AS bp, CAST([] AS VARCHAR[]) AS pp,
               CAST(0 AS BIGINT) AS bc, CAST([] AS VARCHAR[]) AS pc
        FROM dl
        UNION ALL
        SELECT v.doc_id, p.i, v.bc, v.pc,
               CASE WHEN v.bp + p.bcost < v.bc + p.ucost
                    THEN v.bp + p.bcost ELSE v.bc + p.ucost END,
               CASE WHEN v.bp + p.bcost < v.bc + p.ucost
                    THEN list_append(v.pp, p.bkey)
                    ELSE list_append(v.pc, p.word) END
        FROM v{tag} v JOIN pc{tag} p ON p.doc_id = v.doc_id AND p.i = v.i + 1
    ),
    usage{tag} AS MATERIALIZED (
        SELECT piece, CAST(count(*) AS BIGINT) AS used
        FROM (SELECT s.pc FROM (SELECT v.*, d.L FROM v{tag} v
                                JOIN dl d USING (doc_id)) s
              WHERE s.i = s.L),
             UNNEST(pc) AS u(piece)
        GROUP BY piece
    )"""


def _tok3_oracle() -> str:
    """Full replay: seed counts -> seed costs -> Viterbi E1 -> prune +
    re-estimate (add-one smoothing) -> Viterbi E2 -> final vocabulary."""
    return (
        f"""
    WITH RECURSIVE toks AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    dl AS MATERIALIZED (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS L FROM toks
    ),
    pos AS MATERIALIZED (
        SELECT doc_id, i, t[i] AS word,
               CASE WHEN i >= 2 THEN t[i - 1] || '+' || t[i] END AS bkey
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) g
    ),
    seed AS MATERIALIZED (
        SELECT word AS piece, 1 AS nw, CAST(count(*) AS BIGINT) AS cnt
        FROM pos GROUP BY word
        UNION ALL
        SELECT bkey, 2, CAST(count(*) AS BIGINT)
        FROM pos WHERE bkey IS NOT NULL GROUP BY bkey
    ),
    tot0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM seed),
    cost0 AS MATERIALIZED (
        SELECT piece, nw,
               -CAST(ROUND(ln(CAST(cnt AS DOUBLE) / tot) * 1000000)
                     AS BIGINT) AS cost
        FROM seed, tot0
    )"""
        + _uni_viterbi_cte("1", "cost0")
        + f""",
    vocab1 AS MATERIALIZED (
        SELECT c.piece, c.nw, COALESCE(u.used, 0) AS used
        FROM cost0 c LEFT JOIN usage1 u USING (piece)
        WHERE c.nw = 1 OR COALESCE(u.used, 0) > 0
    ),
    agg1 AS (SELECT CAST(sum(used) AS BIGINT) AS tu,
                    CAST(count(*) AS BIGINT) AS v FROM vocab1),
    cost1 AS MATERIALIZED (
        SELECT piece, nw,
               -CAST(ROUND(ln(CAST(used + 1 AS DOUBLE) / (tu + v))
                           * 1000000) AS BIGINT) AS cost
        FROM vocab1, agg1
    )"""
        + _uni_viterbi_cte("2", "cost1")
        + """
    SELECT c.piece, CAST(c.nw AS BIGINT) AS n_words,
           c.cost AS cost_micro_nats,
           CAST(COALESCE(u.used, 0) AS BIGINT) AS n_uses
    FROM cost1 c LEFT JOIN usage2 u USING (piece)
    ORDER BY piece
    """
    )


_UNI_DP = f"""aggregate(ps,
    named_struct('bp', CAST({_UNI_INF} AS BIGINT),
                 'pp', CAST(array() AS array<string>),
                 'bc', CAST(0 AS BIGINT),
                 'pc', CAST(array() AS array<string>)),
    (a, x) -> IF(a.bp + x.bcost < a.bc + x.ucost,
        named_struct('bp', a.bc, 'pp', a.pc,
                     'bc', a.bp + x.bcost,
                     'pc', concat(a.pp, array(x.bkey))),
        named_struct('bp', a.bc, 'pp', a.pc,
                     'bc', a.bc + x.ucost,
                     'pc', concat(a.pc, array(x.word))))).pc"""


def _uni_viterbi_arrow(batches):
    """Arrow-batched exact-int64 Viterbi E-step (guide §4.2/§4.4):
    MEASURED AND NOT WIRED (r13) — kept as the documented alternative
    the `_UNI_DP` fold was benchmarked against, and as the 100 TB
    fallback if document lengths ever stop being bounded (~100 words),
    where the fold's O(L²) path concats would turn quadratic-real.

    Vectorizes the per-document minimum-cost segmentation DP with
    NumPy ACROSS the documents of each chunk instead of the Catalyst
    `aggregate` fold.  Interleaved same-session A/B at sf0.1/32 cores
    (tools/ab_tok3_estep.py): old fold 0.93 s vs Arrow 1.17 s per
    E-step (0.80x), full tok3 0.85x — with ≤100-word documents the
    fold's path concats are ≤5050 element copies per doc and the
    Arrow serialization of the 5-column positions table costs more
    than the fold saves, so the fold stays the wired path (guide §1:
    measure first; §4 boundary cost is real in BOTH directions).

    Input rows arrive hash-partitioned by doc_id and sorted by
    (doc_id, i), so each document is a contiguous run inside one
    partition.  Chunks are cut only at document boundaries (rows of a
    batch's trailing document carry over to the next chunk), so memory
    is bounded by one Arrow batch plus one document, never the
    partition.  All arithmetic is int64 add/compare — bit-identical to
    the JVM fold: same 1e15 _UNI_INF sentinel, same strict-< rule ("the
    bigram step wins only on strict improvement").  Emits per-PARTITION
    partial usage counts (piece, used); the downstream sum is exactly
    the old explode + count.
    """
    import numpy as np
    import pyarrow as pa

    counts: dict = {}
    # carried columns of the (possibly) unfinished trailing document
    carry: list = []

    def run_chunk(cols) -> None:
        doc_ids, ucost, bcost, words, bkeys = cols
        n = len(doc_ids)
        if n == 0:
            return
        starts = np.flatnonzero(
            np.r_[True, doc_ids[1:] != doc_ids[:-1]]
        )
        lengths = np.r_[starts[1:], n] - starts
        ndocs = len(starts)
        maxlen = int(lengths.max())
        # padded (ndocs x maxlen) cost matrices; pad rows are inert
        # (valid=False lanes never update the DP state)
        span = np.arange(maxlen)
        idx = starts[:, None] + span[None, :]
        valid = span[None, :] < lengths[:, None]
        idx = np.where(valid, idx, 0)
        U = np.where(valid, ucost[idx], 0)
        B = np.where(valid, bcost[idx], _UNI_INF)
        # forward pass: bc = best cost through position k, bp = best
        # through k-1 (the fold's named_struct state, minus the paths);
        # choice[d, k] = "the bigram step won at k" (strict <)
        bp = np.full(ndocs, _UNI_INF, dtype=np.int64)
        bc = np.zeros(ndocs, dtype=np.int64)
        choice = np.zeros((ndocs, maxlen), dtype=bool)
        for k in range(maxlen):
            alive = valid[:, k]
            cand_b = bp + B[:, k]
            cand_u = bc + U[:, k]
            take_b = cand_b < cand_u
            choice[:, k] = take_b & alive
            bp = np.where(alive, bc, bp)
            bc = np.where(
                alive, np.where(take_b, cand_b, cand_u), bc
            )
        # traceback (vectorized across docs): from the last position,
        # a bigram step consumes positions {k-1, k} and emits bkey[k];
        # a unigram step consumes {k} and emits word[k]
        ptr = lengths - 1
        uni_sel: list = []
        bi_sel: list = []
        while True:
            active = ptr >= 0
            if not active.any():
                break
            safe = np.where(active, ptr, 0)
            g = starts + safe
            took_b = choice[np.arange(ndocs), safe] & active
            took_u = active & ~took_b
            bi_sel.append(g[took_b])
            uni_sel.append(g[took_u])
            ptr = ptr - np.where(took_b, 2, 1)
        import pandas as pd

        emitted = pd.concat(
            [
                pd.Series(words[np.concatenate(uni_sel)]),
                pd.Series(bkeys[np.concatenate(bi_sel)]),
            ],
            ignore_index=True,
        )
        for piece, used in emitted.value_counts().items():
            counts[piece] = counts.get(piece, 0) + int(used)

    def to_np(batch):
        return [
            batch.column(j).to_numpy(zero_copy_only=False)
            for j in range(batch.num_columns)
        ]

    for batch in batches:
        cols = to_np(batch)
        if carry:
            cols = [np.concatenate([c, b]) for c, b in zip(carry, cols)]
        doc_ids = cols[0]
        n = len(doc_ids)
        if n == 0:
            carry = []
            continue
        # hold back the trailing document — it may continue in the
        # next batch
        tail_start = int(
            np.flatnonzero(np.r_[True, doc_ids[1:] != doc_ids[:-1]])[-1]
        )
        carry = [c[tail_start:] for c in cols]
        run_chunk([c[:tail_start] for c in cols])
    if carry:
        run_chunk(carry)
    if counts:
        pieces = list(counts)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(pieces, type=pa.string()),
                pa.array([counts[p] for p in pieces], type=pa.int64()),
            ],
            names=["piece", "used"],
        )


def _uni_positions(docs: DataFrame) -> DataFrame:
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    return toks.select(
        "doc_id",
        F.posexplode("t").alias("i0", "word"),
        F.col("t").alias("_t"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).cast("long").alias("i"),
        "word",
        F.when(
            F.col("i0") >= 1,
            F.concat(F.element_at("_t", F.col("i0")), F.lit("+"), F.col("word")),
        ).alias("bkey"),
    )


def _uni_viterbi_usage(pos: DataFrame, costs: DataFrame) -> DataFrame:
    """One hard-EM E-step: per-document minimum-cost segmentation via a
    codegen `aggregate` fold, then piece usage counts.  ``costs`` is the
    model (vocabulary-sized) so both joins broadcast; the only data
    shuffles are the per-document array build and the usage count."""
    uni = costs.where(F.col("nw") == 1).select(
        F.col("piece").alias("_up"), F.col("cost").alias("ucost")
    )
    bi = costs.where(F.col("nw") == 2).select(
        F.col("piece").alias("_bp"), F.col("cost").alias("bcost")
    )
    j = (
        pos.join(F.broadcast(uni), pos["word"] == uni["_up"])
        .join(F.broadcast(bi), pos["bkey"] == bi["_bp"], "left")
        .select(
            "doc_id",
            "i",
            "word",
            "ucost",
            F.coalesce("bcost", F.lit(_UNI_INF)).cast("long").alias("bcost"),
            F.coalesce("bkey", F.lit("")).alias("bkey"),
        )
    )
    # Per-document DP stays the codegen `aggregate` fold: the Arrow
    # rewrite VERDICT r12 #1 asked for was built and MEASURED SLOWER
    # (0.80x per E-step, 0.85x full query — see _uni_viterbi_arrow's
    # docstring and tools/ab_tok3_estep.py) because document length is
    # bounded (~100 words), so the fold's O(L²) path concats are cheap
    # while the Python boundary serializes the whole positions table.
    per = j.groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(struct(i, ucost, word, bcost, bkey)))")
        .alias("ps")
    )
    seg = per.select(F.expr(_UNI_DP).alias("pieces"))
    return (
        seg.select(F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.count("*").cast("long").alias("used"))
        # Vocabulary-sized, but referenced twice downstream (the totals
        # aggregate AND the vocab join) — without a lineage cut the
        # whole E-step (per-document DP fold over the corpus) is
        # evaluated once per reference (measured: 3 corpus-wide stages
        # per E-step instead of 2 at sf0.1).
        .localCheckpoint(eager=False)
    )


@query("tok3_unigram_train", oracle=_tok3_oracle())
def tok3_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training by Viterbi-EM vocabulary pruning
    (the SentencePiece trainer bpe1's merge learning doesn't cover):
    seed an over-complete vocabulary with every word (base symbols,
    never pruned) and every adjacent word bigram (candidate pieces),
    cost each piece in integer micro-nats from seed frequencies, then
    alternate (E) per-document minimum-cost Viterbi segmentation and
    (M) usage-based cost re-estimation with add-one smoothing, pruning
    bigram pieces no optimal segmentation used.  Output is the final
    vocabulary — piece, width, serving cost, final usage — i.e. the
    tokenizer MODEL, hash-checked rule by rule like bpe1's merge table.

    Cross-engine exactness: piece costs are lm2's device (libm ln
    quantized to BIGINT micro-nats); the DP compares exact integer
    sums, bigram steps win only on STRICT improvement, and unusable
    steps carry a 1e15 sentinel no real path reaches, so both engines
    walk identical segmentations (the oracle replays the full EM as
    per-document recursive CTEs over the same integers).

    Scale shape: each E-step is one broadcast join of the
    vocabulary-sized cost model onto the positions scan, ONE
    doc_id-keyed exchange to assemble per-document position arrays,
    a codegen `aggregate` fold (per-doc Viterbi is linear-state DP —
    no Python, no cross-document state), and a vocabulary-bounded
    usage count; M-steps are arithmetic on the model table.  At
    100 TB this is train-small/apply-wide like bpe1: the corpus is
    scanned once per E-step and only vocabulary-sized tables move.
    The learned model is memoized per (application, sf_dir) — the
    tok1 serving device — so downstream segmentation reuses it as a
    pure map."""
    from ..functions.spread import spread_scan

    # The positions posexplode and both E-steps' per-document Viterbi
    # folds are map-side work over an under-split scan (guide §2.5):
    # spread it BEFORE the lineage cut so the checkpointed positions
    # table carries full-width partitioning (A/B 0.75x; no-op at scale).
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    # The positions table feeds FOUR consumers (unigram seed counts,
    # bigram seed counts, and both E-step joins); without a lineage cut
    # each one re-runs the scan + split + posexplode (measured: the
    # dominant repeated cost of the tower).  One materialization, four
    # cheap re-reads — the sim5 materialize_training_set discipline;
    # at 100 TB this is the standard corpus-materialization trade
    # (one write of the tokenized positions vs four full re-parses).
    pos = _uni_positions(docs).localCheckpoint(eager=False)

    seed_uni = pos.groupBy(F.col("word").alias("piece")).agg(
        F.count("*").cast("long").alias("cnt")
    ).select("piece", F.lit(1).alias("nw"), "cnt")
    seed_bi = (
        pos.where(F.col("bkey").isNotNull())
        .groupBy(F.col("bkey").alias("piece"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .select("piece", F.lit(2).alias("nw"), "cnt")
    )
    seed = seed_uni.unionByName(seed_bi)
    tot0 = seed.agg(F.sum("cnt").cast("long").alias("tot"))
    cost0 = seed.crossJoin(F.broadcast(tot0)).select(
        "piece",
        "nw",
        (-F.round(F.log(F.col("cnt").cast("double") / F.col("tot")) * 1_000_000))
        .cast("long")
        .alias("cost"),
    )
    # Each M-step output is the MODEL (vocabulary-sized): collect it and
    # re-inject as a local table so the next E-step consumes a literal —
    # cost1 is referenced by BOTH vocabulary joins of E2, and without the
    # round-trip Spark would re-execute the whole E1 lineage per
    # reference (the bpe1 per-round-collect discipline; only the model
    # crosses the driver).  The ln quantization itself stays IN Spark so
    # the micro-nat integers are the engine's, not the driver's.
    cost_schema = "piece string, nw int, cost long"

    def _localize(df: DataFrame) -> DataFrame:
        rows = [(r["piece"], int(r["nw"]), int(r["cost"])) for r in df.collect()]
        return spark.createDataFrame(rows, cost_schema)

    cost0 = _localize(cost0)

    usage1 = _uni_viterbi_usage(pos, cost0)
    vocab1 = (
        cost0.join(usage1, "piece", "left")
        .select(
            "piece",
            "nw",
            F.coalesce("used", F.lit(0)).cast("long").alias("used"),
        )
        .where((F.col("nw") == 1) | (F.col("used") > 0))
    )
    agg1 = vocab1.agg(
        F.sum("used").cast("long").alias("tu"),
        F.count("*").cast("long").alias("v"),
    )
    cost1 = _localize(
        vocab1.crossJoin(F.broadcast(agg1)).select(
            "piece",
            "nw",
            (
                -F.round(
                    F.log(
                        (F.col("used") + 1).cast("double")
                        / (F.col("tu") + F.col("v"))
                    )
                    * 1_000_000
                )
            )
            .cast("long")
            .alias("cost"),
        )
    )

    usage2 = _uni_viterbi_usage(pos, cost1)
    out = (
        cost1.join(usage2, "piece", "left")
        .select(
            "piece",
            F.col("nw").cast("long").alias("n_words"),
            F.col("cost").alias("cost_micro_nats"),
            F.coalesce("used", F.lit(0)).cast("long").alias("n_uses"),
        )
        .orderBy("piece")
    )
    # The result IS the model (vocabulary-sized): collect it once for
    # the serving memo and return it as a local table, so a consumer's
    # action doesn't re-run both E-steps (the bpe1 return convention).
    rows = [
        (r["piece"], int(r["n_words"]), int(r["cost_micro_nats"]), int(r["n_uses"]))
        for r in out.collect()
    ]
    _UNI_MEMO[(spark.sparkContext.applicationId, sf_dir)] = [
        (p, n, c) for p, n, c, _ in rows
    ]
    return spark.createDataFrame(
        rows,
        "piece string, n_words bigint, cost_micro_nats bigint, n_uses bigint",
    ).orderBy("piece")
