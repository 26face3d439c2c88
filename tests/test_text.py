"""Unit tests: text-analysis operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators import text as tx

DOCS = "doc_id long, text string"


def test_token_count_whitespace_and_bpe(rows):
    df = rows([(1, "hello   world"), (2, "a,b.c"), (3, "")], DOCS)
    ws = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", tx.token_count("text").alias("n")).collect()}
    assert ws == {1: 2, 2: 1, 3: 0}
    bpe = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", tx.token_count("text", "bpe").alias("n")).collect()}
    assert bpe[2] == 5  # a , b . c
    with pytest.raises(ValueError):
        tx.token_count("text", "nope")


def test_quality_features(rows):
    good = "the quick brown fox jumps over the lazy dog again today"
    df = rows([(1, good), (2, "!!! ??? ..."), (3, "")], DOCS)
    out = {r["doc_id"]: r for r in tx.quality_features(df).collect()}
    assert out[1]["q_n_tokens"] == 11
    assert out[1]["q_score"] == 1.0
    assert out[2]["q_punct_ratio"] > 0.5
    assert out[2]["q_score"] < 1.0
    # empty doc: ratios defined (no div-by-zero), score low
    assert out[3]["q_n_tokens"] == 0
    assert out[3]["q_mean_word_len"] == 0.0


def test_language_id(rows):
    df = rows([(1, "the cat is on the mat and it is happy"),
               (2, "der hund ist nicht mit der katze"),
               (3, "xyzzy qwerty plugh")], DOCS)
    out = {r["doc_id"]: r["lang_pred"]
           for r in tx.language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_fingerprint_is_normalization_invariant(rows):
    df = rows([(1, "Hello,  World!"), (2, "hello world"), (3, "other")],
              DOCS)
    out = {r["doc_id"]: r["doc_fp"] for r in tx.fingerprint(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_chunk_documents_overlap_and_tail(rows):
    import pytest
    # 10 tokens, chunk=4, overlap=2 -> starts 1,3,5,7 (step 2, last
    # start <= len-overlap=8); every token covered, overlaps verbatim
    df = rows([(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (2, "a b"),
               (3, "single")], DOCS)
    out = tx.chunk_documents(df, chunk_tokens=4, overlap_tokens=2)
    got = {(r["id"], r["chunk_start"]): (r["chunk"], r["n_tokens"])
           for r in out.collect()}
    assert got[(1, 1)] == ("t1 t2 t3 t4", 4)
    assert got[(1, 3)] == ("t3 t4 t5 t6", 4)
    assert got[(1, 7)] == ("t7 t8 t9 t10", 4)
    # short docs yield exactly one (possibly partial) chunk
    assert got[(2, 1)] == ("a b", 2)
    assert got[(3, 1)] == ("single", 1)
    # NULL / empty / whitespace-only text yields no chunks at all
    degenerate = rows([(9, None), (10, ""), (11, "   ")], DOCS)
    assert tx.chunk_documents(degenerate, chunk_tokens=4,
                              overlap_tokens=2).count() == 0
    assert len([k for k in got if k[0] == 1]) == 4
    with pytest.raises(ValueError):
        tx.chunk_documents(df, chunk_tokens=4, overlap_tokens=4)


def test_pack_sequences_budget_invariants(rows):
    import pytest
    df = rows([(i, f"doc{i} " * 0 + " ".join(f"w{j}" for j in range(n)))
               for i, n in enumerate([5, 7, 3, 9, 2, 6, 4])], DOCS)
    chunks = tx.chunk_documents(df, chunk_tokens=4, overlap_tokens=1)
    n_chunks = chunks.count()
    packed = tx.pack_sequences(chunks, "n_tokens", budget=8).collect()
    # every chunk assigned exactly once
    assert len(packed) == n_chunks
    assert {(r["id"], r["chunk_start"]) for r in packed} == \
        {(r["id"], r["chunk_start"]) for r in chunks.collect()}
    # no pack exceeds the budget (all chunk lengths <= budget here)
    by_pack: dict = {}
    for r in packed:
        by_pack[r["pack_id"]] = by_pack.get(r["pack_id"], 0) + r["n_tokens"]
    assert all(v <= 8 for v in by_pack.values()), by_pack
    # an oversized row still gets a pack of its own
    big = tx.pack_sequences(chunks, "n_tokens", budget=2).collect()
    assert len(big) == n_chunks
    with pytest.raises(ValueError):
        tx.pack_sequences(chunks, "n_tokens", budget=0)


def test_bm25_rank_orders_by_relevance(rows):
    from bi_etl_and_integration_spark.operators import text as tx
    docs = rows([
        (1, "spark spark spark join"),          # tf=3, short
        (2, "spark join merge sort filter agg window scan row batch"),
        (3, "merge sort filter"),               # no query term
        (4, "spark"),                           # tf=1 but shortest
    ], "doc_id int, text string")
    out = tx.bm25_rank(docs, ["spark"]).collect()
    scores = {r["doc_id"]: r["bm25_score"] for r in out}
    assert set(scores) == {1, 2, 4}             # doc 3 never matches
    assert scores[1] > scores[4] > scores[2]    # tf dominates, len norm
    top1 = tx.bm25_rank(docs, ["spark"], topk=1).collect()
    assert [r["doc_id"] for r in top1] == [1]
    # a repeated query term (after lower-casing) counts once
    dup = tx.bm25_rank(docs, ["spark", "spark", "SPARK"]).collect()
    assert {r["doc_id"]: r["bm25_score"] for r in dup} == scores


def test_bm25_rank_single_pass_reference_values_and_plan(rows):
    """r12 rewrite pin: tf/df computed as per-row array counts (one
    tokenize pass, no explode, no per-(doc,term) shuffle) must
    reproduce the published Okapi formula exactly — checked against
    an independent pure-Python reference — and the explode pipeline
    must be GONE from the plan (no Generate node; the tf agg exchange
    and the df broadcast join with it)."""
    import math

    from bi_etl_and_integration_spark.operators import text as tx
    from bi_etl_and_integration_spark.plans import simple_plan

    corpus = {1: "spark merge spark", 2: "window scan row",
              3: "spark window window merge extra tokens here",
              4: "alpha beta gamma", 5: ""}
    terms = ["spark", "merge", "window"]
    docs = rows(list(corpus.items()), "doc_id int, text string")
    out_df = tx.bm25_rank(docs, terms)
    got = {r["doc_id"]: r["bm25_score"] for r in out_df.collect()}

    # pure-Python reference (k1=1.2, b=0.75, +1-smoothed idf)
    tok = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(v) for v in tok.values()) / n
    df_t = {t: sum(1 for v in tok.values() if t in v) for t in terms}
    exp = {}
    for d, v in tok.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if not tf:
                continue
            idf = math.log(1.0 + (n - df_t[t] + 0.5) / (df_t[t] + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(v) / avgdl))
        if s:
            exp[d] = s
    assert set(got) == set(exp)
    for d in exp:
        assert got[d] == pytest.approx(exp[d], abs=1e-12), d

    plan = simple_plan(out_df)
    assert "Generate" not in plan          # no explode pipeline
    assert "SortMergeJoin" not in plan     # df join replaced by the
    assert "ShuffledHashJoin" not in plan  # broadcast stats row


def test_bm25_multi_term_and_idf(rows):
    from bi_etl_and_integration_spark.operators import text as tx
    # 'rare' appears in 1 of 4 docs, 'common' in 3 of 4 — idf must
    # weight the rare term higher at equal tf
    docs = rows([
        (1, "rare alpha beta"),
        (2, "common alpha beta"),
        (3, "common gamma delta"),
        (4, "common epsilon zeta"),
    ], "doc_id int, text string")
    out = {r["doc_id"]: r["bm25_score"]
           for r in tx.bm25_rank(docs, ["rare", "common"]).collect()}
    assert out[1] > max(out[2], out[3], out[4])
    import pytest
    with pytest.raises(ValueError, match="empty"):
        tx.bm25_rank(docs, [])


def test_unigram_lm_score_self_and_foreign_model(rows):
    from bi_etl_and_integration_spark.operators.text import (
        unigram_lm_score)
    import math
    docs = rows([(1, "a a b"), (2, "a b c d")],
                "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_lm_score(docs).collect()}
    # corpus: a=3, b=2, c=1, d=1, N=7
    assert out[1]["n_tokens"] == 3 and out[1]["n_unseen"] == 0
    exp1 = (2 * math.log(3 / 7) + math.log(2 / 7)) / 3
    assert abs(out[1]["avg_logprob"] - exp1) < 1e-9
    # doc 2 has two 1/7 tokens: rarer tokens -> lower avg logprob
    assert out[2]["avg_logprob"] < out[1]["avg_logprob"]

    # foreign model: unseen tokens excluded from the mean, counted
    train = rows([(9, "a b")], "doc_id long, text string")
    from pyspark.sql import functions as F
    m = (train.select(F.explode(F.split(F.lower("text"), " "))
                      .alias("__tok"))
         .groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt")))
    out2 = {r["doc_id"]: r for r in
            unigram_lm_score(docs, model=m).collect()}
    assert out2[2]["n_unseen"] == 2          # c, d unseen
    exp2 = math.log(1 / 2)                   # a,b each p=1/2, mean ln(1/2)
    assert abs(out2[2]["avg_logprob"] - exp2) < 1e-9


def _ref_bpe_train(word_freq, n_merges, min_count=2):
    """Reference Sennrich BPE on a python dict (test-only)."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freq.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, f in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i+1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new
    return merges


def test_bpe_train_matches_reference_and_encodes(rows):
    from bi_etl_and_integration_spark.operators.text import (
        bpe_encode, bpe_train)
    docs = rows([(1, "low low low lower lower newest newest"),
                 (2, "newest newest newest wider wider low")],
                "doc_id long, text string")
    merges = bpe_train(docs, n_merges=10)       # auto: driver path
    freq = {"low": 4, "lower": 2, "newest": 5, "wider": 2}
    assert merges == _ref_bpe_train(freq, 10)
    # the distributed rounds implement the identical algorithm
    assert bpe_train(docs, n_merges=10, distributed=True) == merges
    assert len(merges) > 3
    enc = {r["doc_id"]: r["bpe_tokens"] for r in
           bpe_encode(docs, merges).collect()}
    # re-joining subwords reproduces each word + terminal marker
    joined = "".join(enc[1])
    assert joined == "low</w>low</w>low</w>lower</w>lower</w>" \
                     "newest</w>newest</w>"
    # 'newest' appears 5x: frequent enough that training merged it to
    # few symbols; every encoded word ends with the </w> marker
    assert all(t.endswith("</w>") or "</w>" not in t
               for t in enc[1] + enc[2])


def test_normalize_text_nfc_control_whitespace(rows):
    from bi_etl_and_integration_spark.operators.text import (
        normalize_text)
    import pytest
    df = rows([(1, "a  Cafe\u0301\tx"), (2, "b\x07c"), (3, None),
               (4, "plain ascii")],
              "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in normalize_text(df, "text").collect()}
    assert out[1] == "a Caf\u00e9 x"        # composed + collapsed
    assert out[2] == "bc"                   # BEL stripped
    assert out[3] is None
    assert out[4] == "plain ascii"          # isascii short-circuit
    # NFKC folds compatibility chars (ligature fi)
    df2 = rows([(1, "\ufb01n")], "doc_id long, text string")
    assert normalize_text(df2, "text", form="NFKC") \
        .collect()[0]["text"] == "fin"
    with pytest.raises(ValueError, match="unknown form"):
        normalize_text(df, "text", form="NFX")


def test_concat_chunk_pack_matches_serial_fold(rows):
    """The two-phase distributed prefix sum must equal the serial
    cumsum — including zero-count items and counts that straddle
    sequence boundaries."""
    from bi_etl_and_integration_spark.operators.text import (
        concat_chunk_pack)
    counts = [5, 0, 130, 1, 127, 128, 0, 3, 260, 7]
    df = rows(list(enumerate(counts)), "item_id long, n long")
    out = {r["item_id"]: r for r in concat_chunk_pack(
        df, "n", "item_id", budget=128).collect()}
    cum = 0
    for i, n in enumerate(counts):
        start = cum
        cum += n
        assert out[i]["start_off"] == start, i
        assert out[i]["first_seq"] == start // 128, i
        exp_last = (cum - 1) // 128 if n > 0 else start // 128
        assert out[i]["last_seq"] == exp_last, i
    # every token accounted for: total == serial total
    assert sum(counts) == cum


def test_concat_chunk_pack_rejects_bad_counts(rows):
    """r4 ADVICE: the per-partition total is read as max(running sum),
    which equals the sum only for non-negative counts — a negative or
    NULL count must fail LOUDLY, not corrupt every downstream offset."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from bi_etl_and_integration_spark.operators.text import (
        concat_chunk_pack)
    neg = rows([(0, 5), (1, -3)], "item_id long, n long")
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="non-negative"):
        concat_chunk_pack(neg, "n", "item_id", budget=128).collect()
    nul = rows([(0, 5), (1, None)], "item_id long, n long")
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="NULL"):
        concat_chunk_pack(nul, "n", "item_id", budget=128).collect()


def test_quality_token_count_unicode_runs(rows):
    """q_n_tokens counts maximal [\\p{L}\\p{N}]+ runs over the text AS
    WRITTEN (ADVICE r9): pinned on the unicode edge cases where run
    counting diverges from lowercase-then-whitespace-split — dotted
    capital İ (whose case fold adds a combining mark), ligatures, and
    combining marks (which TERMINATE a run: \\p{M} is not \\p{L}) —
    so a future tokenize()/count change can't silently re-diverge the
    length_ok gate's semantics."""
    df = rows([(1, "İstanbul VE İZMİR"),   # case-fold-sensitive letters
               (2, "ﬁne ﬁsh"),            # ligature is one \p{L}
               (3, "cafe\u0301s open"),   # decomposed: mark splits run
               (4, "a,b.c d2d"),           # punct splits, digits join
               (5, "ＡＢ12 ＣＤ")], DOCS)  # fullwidth letters
    out = {r["doc_id"]: r["q_n_tokens"]
           for r in tx.quality_features(df).collect()}
    assert out[1] == 3
    assert out[2] == 2
    assert out[3] == 3   # cafe | s | open — the mark ends the run
    assert out[4] == 4   # a | b | c | d2d
    assert out[5] == 2
