"""Third-implementation check for BPE merge training: the oracle pins
Spark==DuckDB; this replays the whole training loop in pure Python
(str.replace shares the left-to-right non-overlapping scan semantics
both engines' replace() uses, which IS greedy BPE application), so a
shared misreading — an off-by-one in the pair window, a wrong
replacement boundary — can't slip through both engines unnoticed."""

from __future__ import annotations

from collections import Counter

import duckdb

from ecostream.queries.registry import QUERIES
from ecostream.queries.tokenizer import _BPE_ROUNDS

from .conftest import SF_SMOKE


def test_bpe1_matches_pure_python(spark):
    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{SF_SMOKE}/documents.parquet'"
        ).fetchall()
    ]
    corpus = ["|" + t.replace(" ", "|") + "|" for t in texts]
    expected = []
    for rank in range(1, _BPE_ROUNDS + 1):
        counts: Counter[str] = Counter()
        for s in corpus:
            toks = [x for x in s.split("|") if x]
            counts.update(
                f"{toks[i]}|{toks[i + 1]}" for i in range(len(toks) - 1)
            )
        # argmax with the engine tiebreak: freq DESC, pair key ASC
        pr, freq = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        lhs, rhs = pr.split("|")
        expected.append((rank, lhs, rhs, freq))
        corpus = [
            s.replace(f"|{lhs}|{rhs}|", f"|{lhs}+{rhs}|") for s in corpus
        ]
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["freq"])
        for r in QUERIES["bpe1_merge_train"](spark, SF_SMOKE).collect()
    ]
    assert got == expected
    assert all(f > 0 for *_, f in got)


def test_bpe1_rules_actually_fire(spark):
    """Every learned rule must describe a pair that existed when it was
    adopted — freq is positive and rank-1 is the true global argmax
    (checked against an independent Counter in the test above); here we
    additionally pin that later rules can reference earlier MERGED
    tokens or base tokens, but never contain the separator."""
    rows = QUERIES["bpe1_merge_train"](spark, SF_SMOKE).collect()
    assert [r["merge_rank"] for r in rows] == list(range(1, _BPE_ROUNDS + 1))
    for r in rows:
        assert r["lhs"] and r["rhs"]
        assert "|" not in r["lhs"] and "|" not in r["rhs"]


def test_tok1_apply_consistent_with_training(spark):
    """Post-merge token counts must equal the pure-Python application
    of the learned rules, and merged-token counts must be positive
    somewhere (the rules actually fire on the corpus)."""
    import duckdb

    from ecostream.queries.tokenizer import bpe1_merge_train, tok1_bpe_apply

    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe1_merge_train(spark, SF_SMOKE).collect()
    ]
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    expected = {}
    for doc_id, text in rows:
        s = "|" + text.replace(" ", "|") + "|"
        for lhs, rhs in merges:
            s = s.replace(f"|{lhs}|{rhs}|", f"|{lhs}+{rhs}|")
        toks = [x for x in s.split("|") if x]
        expected[doc_id] = (len(toks), sum("+" in t for t in toks))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_merged_tokens"])
        for r in tok1_bpe_apply(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert sum(m for _, m in got.values()) > 0


def test_tok1_reuses_memoized_merge_table(spark):
    """VERDICT r5 #4: after bpe1 trains in a session, tok1 must be the
    pure map — it reads the memo instead of re-running the 6 training
    rounds.  Pin that the memo is populated by bpe1, hit by tok1, and
    that memoized apply equals cold apply exactly."""
    from ecostream.queries import tokenizer as tk

    sf = "/root/testdata/sf0.001"
    key = (spark.sparkContext.applicationId, sf)
    tk._MERGE_MEMO.pop(key, None)
    cold = tk.tok1_bpe_apply(spark, sf).collect()  # trains, fills memo
    assert key in tk._MERGE_MEMO and len(tk._MERGE_MEMO[key]) == tk._BPE_ROUNDS
    memo_before = list(tk._MERGE_MEMO[key])
    warm = tk.tok1_bpe_apply(spark, sf).collect()  # must hit the memo
    assert tk._MERGE_MEMO[key] == memo_before
    assert warm == cold
    # bpe1 always retrains (it IS the training benchmark) and refreshes
    # the memo with the same deterministic rules
    tk.bpe1_merge_train(spark, sf).collect()
    assert tk._MERGE_MEMO[key] == memo_before


def test_tok2_coverage_consistent_with_tok1(spark):
    """tok2's per-source sums must re-aggregate tok1's per-document
    counts exactly, and every permille must be the floor of the exact
    ratio."""
    from ecostream.queries.tokenizer import tok1_bpe_apply, tok2_vocab_coverage
    from ecostream.schema import load_table
    from .conftest import SF_SMOKE

    src_of = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source")
        .collect()
    }
    per_doc = tok1_bpe_apply(spark, SF_SMOKE).collect()
    exp: dict[str, list[int]] = {}
    for r in per_doc:
        e = exp.setdefault(src_of[r["doc_id"]], [0, 0, 0])
        e[0] += 1
        e[1] += r["n_tokens"]
        e[2] += r["n_merged_tokens"]
    got = tok2_vocab_coverage(spark, SF_SMOKE).collect()
    assert {r["source"] for r in got} == set(exp)
    for r in got:
        n_docs, n_tok, n_merged = exp[r["source"]]
        assert (r["n_docs"], r["n_tokens"], r["n_merged_tokens"]) == (
            n_docs,
            n_tok,
            n_merged,
        )
        assert r["merge_hit_permille"] == (1000 * n_merged) // n_tok
        assert 0 <= r["n_merged_types"] <= n_merged


def _round_away(x: float) -> int:
    """Spark F.round / DuckDB round semantics on doubles: half away
    from zero (Python's round() is half-even, so can't be used)."""
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _uni_python(texts):
    """Pure-Python replay of tok3's Viterbi-EM (third implementation,
    the bpe1 test's device): seed word+bigram vocab, micro-nat costs,
    two hard-EM rounds with add-one smoothing and usage pruning."""
    import math
    from collections import Counter

    INF = 1_000_000_000_000_000
    docs = [t.split(" ") for t in texts]
    seed: Counter = Counter()
    for w in docs:
        for i, tok in enumerate(w):
            seed[(tok, 1)] += 1
            if i >= 1:
                seed[(f"{w[i-1]}+{tok}", 2)] += 1
    tot = sum(seed.values())
    cost = {k: -_round_away(math.log(c / tot) * 1e6) for k, c in seed.items()}

    def estep(cost):
        usage: Counter = Counter()
        uni = {p: c for (p, n), c in cost.items() if n == 1}
        bi = {p: c for (p, n), c in cost.items() if n == 2}
        for w in docs:
            bp, pp, bc, pc = INF, [], 0, []
            for i, tok in enumerate(w):
                bkey = f"{w[i-1]}+{tok}" if i >= 1 else ""
                bcost = bi.get(bkey, INF)
                if bp + bcost < bc + uni[tok]:
                    bp, pp, bc, pc = bc, pc, bp + bcost, pp + [bkey]
                else:
                    bp, pp, bc, pc = bc, pc, bc + uni[tok], pc + [tok]
            for p in pc:
                usage[p] += 1
        return usage

    usage1 = estep(cost)
    vocab1 = {
        (p, n): usage1.get(p, 0)
        for (p, n) in cost
        if n == 1 or usage1.get(p, 0) > 0
    }
    tu, v = sum(vocab1.values()), len(vocab1)
    cost1 = {
        k: -_round_away(math.log((u + 1) / (tu + v)) * 1e6)
        for k, u in vocab1.items()
    }
    usage2 = estep(cost1)
    return sorted(
        (p, n, cost1[(p, n)], usage2.get(p, 0)) for (p, n) in cost1
    )


def test_tok3_matches_pure_python(spark):
    """Third-implementation check for the unigram-LM trainer: a shared
    Spark/DuckDB misreading of the DP (tie direction, sentinel, smoothing
    denominator) can't hide from an independent Python replay."""
    import duckdb

    from ecostream.queries.tokenizer import tok3_unigram_train

    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{SF_SMOKE}/documents.parquet'"
        ).fetchall()
    ]
    expected = _uni_python(texts)
    got = sorted(
        (r["piece"], r["n_words"], r["cost_micro_nats"], r["n_uses"])
        for r in tok3_unigram_train(spark, SF_SMOKE).collect()
    )
    assert got == expected
    # the trainer genuinely prunes AND genuinely keeps multi-word pieces
    assert any(n == 2 for _, n, _, _ in got)
    assert any(n == 2 and u > 0 for _, n, _, u in got)


def test_tok3_apply_consistent_with_training(spark):
    """Serving the memoized model (the tok1 memo device) must reproduce
    training's final usage counts exactly: one more E-step with the
    learned costs is the APPLY path, and a drifting application would
    desync n_uses."""
    from pyspark.sql import functions as F

    from ecostream.queries import tokenizer as tk
    from ecostream.schema import load_table

    key = (spark.sparkContext.applicationId, SF_SMOKE)
    tk._UNI_MEMO.pop(key, None)
    out = {
        r["piece"]: (r["n_words"], r["cost_micro_nats"], r["n_uses"])
        for r in tk.tok3_unigram_train(spark, SF_SMOKE).collect()
    }
    assert key in tk._UNI_MEMO and len(tk._UNI_MEMO[key]) == len(out)
    model = spark.createDataFrame(
        tk._UNI_MEMO[key], "piece string, nw int, cost long"
    )
    pos = tk._uni_positions(load_table(spark, SF_SMOKE, "documents"))
    served = {
        r["piece"]: r["used"]
        for r in tk._uni_viterbi_usage(pos, model).collect()
    }
    for piece, (_, _, n_uses) in out.items():
        assert served.get(piece, 0) == n_uses, piece
    # every served piece is in the model vocabulary
    assert set(served) <= set(out)


def test_bpe1_ckpt_gate_policy(spark):
    """VERDICT r12 #4: the lineage-checkpoint cadence is a pure,
    scale-invariant function of estimated corpus bytes — off below the
    threshold (bench scale keeps the fused replace chain), on above it
    (100 TB truncates the O(R²) recompute)."""
    from ecostream.queries.tokenizer import _bpe_ckpt_every

    # default threshold is 8 GiB: bench-scale corpora stay gate-off
    assert _bpe_ckpt_every(spark, 10 << 20) == 0
    assert _bpe_ckpt_every(spark, (8 << 30) - 1) == 0
    assert _bpe_ckpt_every(spark, 8 << 30) == 3
    assert _bpe_ckpt_every(spark, 100 << 40) == 3
    # conf-parameterised knobs, including a hard disable
    spark.conf.set("spark.ecostream.bpe.ckptMinBytes", "1024")
    spark.conf.set("spark.ecostream.bpe.ckptEvery", "2")
    try:
        assert _bpe_ckpt_every(spark, 2048) == 2
        spark.conf.set("spark.ecostream.bpe.ckptEvery", "0")
        assert _bpe_ckpt_every(spark, 2048) == 0
    finally:
        spark.conf.unset("spark.ecostream.bpe.ckptMinBytes")
        spark.conf.unset("spark.ecostream.bpe.ckptEvery")


def test_bpe1_ckpt_gate_on_identical_rules(spark):
    """Forcing the gate ON (threshold 0) must leave the learned merge
    table bit-identical — the checkpoint is lineage surgery only."""
    from ecostream.queries import tokenizer as tk

    baseline = tk.bpe1_merge_train(spark, SF_SMOKE).collect()
    spark.conf.set("spark.ecostream.bpe.ckptMinBytes", "0")
    spark.conf.set("spark.ecostream.bpe.ckptEvery", "2")
    try:
        gated = tk.bpe1_merge_train(spark, SF_SMOKE).collect()
    finally:
        spark.conf.unset("spark.ecostream.bpe.ckptMinBytes")
        spark.conf.unset("spark.ecostream.bpe.ckptEvery")
    assert gated == baseline


def test_plan_size_bytes_fails_soft(spark):
    """The checkpoint gate's size estimate goes through private JVM
    APIs; when they raise, it reads 0 bytes (gate off) instead of
    failing bpe1."""
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException

    from ecostream.queries.tokenizer import _plan_size_bytes

    class RaisingJdf:
        def __init__(self, exc):
            self.exc = exc

        @property
        def _jdf(self):
            raise self.exc

    for exc in (
        AttributeError("_jdf"),
        Py4JError("optimizedPlan does not exist"),
        PySparkException(message="stats failed"),
    ):
        assert _plan_size_bytes(RaisingJdf(exc)) == 0
    assert _plan_size_bytes(spark.range(10)) > 0


def test_uni_viterbi_arrow_matches_fold(spark):
    """The Arrow-batched Viterbi DP (benchmarked alternative to the
    wired _UNI_DP fold; see _uni_viterbi_arrow's docstring) must emit
    the exact same (piece, used) counts — it is the documented 100 TB
    fallback for unbounded document lengths, so keep it honest."""
    import pyspark.sql.functions as F

    from ecostream.queries import tokenizer as tk
    from ecostream.schema import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    pos = tk._uni_positions(docs).localCheckpoint()
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
        (
            -F.round(
                F.log(F.col("cnt").cast("double") / F.col("tot")) * 1_000_000
            )
        )
        .cast("long")
        .alias("cost"),
    ).localCheckpoint()

    fold = {
        r["piece"]: r["used"]
        for r in tk._uni_viterbi_usage(pos, cost0).collect()
    }

    uni = cost0.where(F.col("nw") == 1).select(
        F.col("piece").alias("_up"), F.col("cost").alias("ucost")
    )
    bi = cost0.where(F.col("nw") == 2).select(
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
            F.coalesce("bcost", F.lit(tk._UNI_INF)).cast("long").alias("bcost"),
            F.coalesce("bkey", F.lit("")).alias("bkey"),
        )
    )
    arrow = {
        r["piece"]: r["used"]
        for r in (
            j.repartition(4, "doc_id")
            .sortWithinPartitions("doc_id", "i")
            .select("doc_id", "ucost", "bcost", "word", "bkey")
            .mapInArrow(tk._uni_viterbi_arrow, "piece string, used long")
            .groupBy("piece")
            .agg(F.sum("used").cast("long").alias("used"))
        ).collect()
    }
    assert arrow == fold and fold
