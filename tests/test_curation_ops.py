"""Semantic tests for the corpus-curation operators added late in round 2
(q_dedup_chunks / q_sample_mixture / q_source_overlap): the oracle-parity
harness proves engine agreement; these prove the *semantics* — planted
duplicates disappear, quotas hold exactly, overlap bounds are respected.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mysqldump_to_parquet_spark.llm.dedup import CHUNK_TOKENS, dedup_chunks
from mysqldump_to_parquet_spark.llm.sampling import MIX_K, sample_mixture
from mysqldump_to_parquet_spark.llm.terms import source_overlap

SF_SMOKE = "/root/testdata/sf0.001"


def _write_documents(spark, tmp_path, rows):
    """Materialize a documents.parquet fixture with the standard schema."""
    df = spark.createDataFrame(
        [(i, text, "en", src, len(text)) for i, (text, src) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_dedup_chunks_drops_cross_doc_repeat_keeps_first(spark, tmp_path):
    boiler = " ".join(f"b{i}" for i in range(CHUNK_TOKENS))  # one exact chunk
    uniq_a = " ".join(f"a{i}" for i in range(CHUNK_TOKENS))
    uniq_b = " ".join(f"c{i}" for i in range(CHUNK_TOKENS))
    sf = _write_documents(
        spark,
        tmp_path,
        [
            (f"{boiler} {uniq_a}", "s0"),  # doc 0: boilerplate + unique
            (f"{boiler} {uniq_b}", "s0"),  # doc 1: same boilerplate + unique
        ],
    )
    out = {r.doc_id: r for r in dedup_chunks(spark, sf).collect()}
    # doc 0 (first occurrence) keeps both chunks verbatim
    assert out[0].n_chunks_kept == 2
    assert out[0].clean_text == f"{boiler} {uniq_a}"
    # doc 1 loses the repeated boilerplate chunk but keeps its unique one
    assert out[1].n_chunks_kept == 1
    assert out[1].clean_text == uniq_b


def test_dedup_chunks_noop_on_unique_corpus(spark, tmp_path):
    texts = [
        " ".join(f"w{d}_{i}" for i in range(CHUNK_TOKENS * 2 + 3)) for d in range(3)
    ]
    sf = _write_documents(spark, tmp_path, [(t, "s0") for t in texts])
    out = {r.doc_id: r.clean_text for r in dedup_chunks(spark, sf).collect()}
    assert out == {i: t for i, t in enumerate(texts)}


def test_sample_mixture_per_source_quota_exact(spark):
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_by_src = {r.source: r.n for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept = {
        r.source: r.n
        for r in sample_mixture(spark, SF_SMOKE)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(kept) == set(n_by_src)
    for src, n in n_by_src.items():
        assert kept[src] == min(n, math.ceil(MIX_K * math.sqrt(n)))


def test_sample_mixture_stable_membership(spark):
    a = {r.doc_id for r in sample_mixture(spark, SF_SMOKE).collect()}
    b = {r.doc_id for r in sample_mixture(spark, SF_SMOKE).collect()}
    assert a == b  # pure function of content, no RNG


def test_source_overlap_bounds_and_orientation(spark):
    rows = source_overlap(spark, SF_SMOKE).collect()
    assert rows, "fixture sources share vocabulary; expected overlap rows"
    for r in rows:
        assert r.source_a < r.source_b  # each unordered pair exactly once
        assert 0.0 <= r.jaccard <= 1.0
        assert r.shared >= 1


def test_source_overlap_identical_sources_hit_jaccard_one(spark, tmp_path):
    text = " ".join(f"t{i}" for i in range(40))
    sf = _write_documents(spark, tmp_path, [(text, "sA"), (text, "sB")])
    rows = source_overlap(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0].source_a == "sA" and rows[0].source_b == "sB"
    assert rows[0].jaccard == pytest.approx(1.0)


# ----------------------------------------------------------- heavy hitters


def test_heavy_hitters_exact_vs_bruteforce(spark, tmp_path):
    """Two-pass Misra-Gries result == brute-force groupBy HAVING, on a
    corpus whose vocabulary (2000 distinct fillers) exceeds the k=500
    counter budget — so the MG subtraction path actually runs and the
    completeness guarantee (every θ-heavy token survives pass 1) is
    what makes the sets equal."""
    from mysqldump_to_parquet_spark.llm.terms import HH_THETA_INV, heavy_hitters

    rng = __import__("random").Random(7)
    fillers = [f"w{i}" for i in range(2000)]
    docs = []
    for d in range(20):
        toks = [rng.choice(fillers) for _ in range(500)]
        toks += ["heavy"] * 30  # 600/10600 ≈ 5.7% >> θ = 0.2%
        rng.shuffle(toks)
        docs.append((" ".join(toks), f"s{d % 3}"))
    sf = _write_documents(spark, tmp_path, docs)

    got = {(r.term, r.n_term) for r in heavy_hitters(spark, sf).collect()}

    toks = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.explode(F.split("text", " ")).alias("term")
    )
    n_total = toks.count()
    want = {
        (r.term, r.cnt)
        for r in toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).collect()
        if r.cnt * HH_THETA_INV >= n_total
    }
    assert ("heavy", 600) in want  # the plant is actually heavy
    assert got == want


def test_heavy_hitters_empty_when_flat(spark, tmp_path):
    """A corpus where every token appears once and vocabulary > θ⁻¹ has
    no heavy hitters at all."""
    from mysqldump_to_parquet_spark.llm.terms import heavy_hitters

    docs = [
        (" ".join(f"u{d}_{i}" for i in range(120)), "s0") for d in range(10)
    ]
    sf = _write_documents(spark, tmp_path, docs)
    assert heavy_hitters(spark, sf).count() == 0


# -------------------------------------------------------------- BPE merges


@pytest.mark.parametrize(
    "docs",
    [
        # round-2 pair only exists BECAUSE of the round-1 merge —
        # proves the iteration actually feeds forward
        [
            ("abab abab cabd", "s0"),
            ("abab baba abba", "s0"),
            ("aaaa bbbb abab", "s1"),
        ],
        # suffix-aliasing trap (round-3 ADVICE, medium): round 1 learns
        # (l,o) → "lo"; round 2's winner (o,x) must NOT match inside the
        # symbol sequence [lo][x] of "lox" — a bare-separator encoding
        # would fuse parts of two different symbols there ("lo  x" →
        # "lox"), destroying the (lo,x) pairs a later round counts
        [
            ("lolo lolo lolo lox", "s0"),
            ("lox lox ox ox ox", "s0"),
            ("ox ox lo lo lox", "s1"),
        ],
    ],
)
def test_bpe_merges_match_python_reference(spark, tmp_path, docs):
    """Distributed BPE rounds == a pure-Python reference implementation
    (greedy left-to-right merge, count-then-lexicographic tie-break), for
    both the learned rules and the applied vocabulary head."""
    from collections import Counter

    from mysqldump_to_parquet_spark.llm.bpe import (
        BPE_MERGES,
        BPE_VOCAB_TOP,
        bpe_apply,
        bpe_merges,
    )

    sf = _write_documents(spark, tmp_path, docs)

    # pure-Python reference
    words = [list(w) for d, _ in docs for w in d.split(" ") if w]
    expect = []
    for r in range(1, BPE_MERGES + 1):
        cnt = Counter()
        for w in words:
            for i in range(len(w) - 1):
                cnt[(w[i], w[i + 1])] += 1
        if not cnt:
            break
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((r, a, b, c))
        new_words = []
        for w in words:
            out, i = [], 0
            while i < len(w):
                if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(w[i])
                    i += 1
            new_words.append(out)
        words = new_words

    got = [
        (r.merge_idx, r.left_sym, r.right_sym, r.pair_count)
        for r in bpe_merges(spark, sf).collect()
    ]
    assert got == expect
    # the feed-forward check: some later rule must involve a multi-char
    # symbol created by an earlier merge
    assert any(len(a) > 1 or len(b) > 1 for _, a, b, _ in expect[1:])

    # the vocabulary head after all merges, counted per occurrence
    occ = Counter(s for w in words for s in w)
    vocab = sorted(occ.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_VOCAB_TOP]
    got_vocab = [(r.sym, r.sym_len, r.n_occ) for r in bpe_apply(spark, sf).collect()]
    assert got_vocab == [(s, len(s), n) for s, n in vocab]


# ---------------------------------------------------- k examples per group


def test_sample_k_per_group_quota_and_stability(spark):
    from mysqldump_to_parquet_spark.llm.sampling import (
        KPG_K,
        sample_k_per_group,
    )

    full = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cell_sizes = {
        (r.lang, r.source): r.n
        for r in full.groupBy("lang", "source").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    got = sample_k_per_group(spark, SF_SMOKE).collect()
    per_cell: dict = {}
    for r in got:
        per_cell.setdefault((r.lang, r.source), []).append(r)
    # exact quota: min(K, cell size) rows per cell, ranks 1..n contiguous
    for cell, n in cell_sizes.items():
        rows = per_cell.get(cell, [])
        assert len(rows) == min(KPG_K, n), cell
        assert sorted(r.rank_in_cell for r in rows) == list(
            range(1, min(KPG_K, n) + 1)
        )
    # deterministic: identical membership on a second run
    again = {(r.doc_id, r.rank_in_cell) for r in
             sample_k_per_group(spark, SF_SMOKE).collect()}
    assert again == {(r.doc_id, r.rank_in_cell) for r in got}


def test_zipf_slope_matches_python_ols(spark, tmp_path):
    """regr_slope over (ln cnt, ln rank) ≡ a NumPy-free Python OLS on
    the same per-language (count desc, term asc)-ranked vocabulary."""
    import math
    import random as _random
    from collections import Counter

    from mysqldump_to_parquet_spark.llm.terms import ZIPF_MIN_LEN, zipf_slope

    rng = _random.Random(59)
    vocab = [f"w{i}" for i in range(40)] + ["a"]  # incl. a below-min-len term
    docs = []
    for d in range(12):
        # Zipf-ish draws: low ids much more frequent
        toks = [vocab[min(int(rng.paretovariate(1.1)) - 1, 40)] for _ in range(200)]
        docs.append((" ".join(toks), "s0"))
    sf = _write_documents(spark, tmp_path, docs)

    got = {r.lang: (r.zipf_slope, r.n_terms) for r in zipf_slope(spark, sf).collect()}

    cnt = Counter()
    for text, _src in docs:
        for t in text.split(" "):
            if len(t) >= ZIPF_MIN_LEN:
                cnt[t] += 1
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [math.log(r + 1) for r in range(len(ranked))]
    ys = [math.log(c) for _, c in ranked]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert set(got) == {"en"}
    s, n_terms = got["en"]
    assert n_terms == n
    assert abs(s - slope) < 1e-6
    assert s < -0.3  # Zipf-shaped draws really are heavy-tailed


def test_oov_rate_matches_python_vocab(spark, tmp_path):
    """Top-K vocab + per-source OOV ≡ Python counting with the same
    count-desc/term-asc K-cut; needs |vocabulary| > K so OOV is
    non-trivial."""
    import random as _random
    from collections import Counter

    from mysqldump_to_parquet_spark.llm.terms import VOCAB_K, oov_rate

    rng = _random.Random(61)
    common = [f"c{i}" for i in range(80)]
    rare = [f"r{i}" for i in range(200)]  # 280 distinct > VOCAB_K=100
    docs = []
    for s, source in ((0, "s0"), (1, "s1")):
        for d in range(10):
            toks = [
                rng.choice(common) if rng.random() < (0.9 if s == 0 else 0.5)
                else rng.choice(rare)
                for _ in range(120)
            ]
            docs.append((" ".join(toks), source))
    sf = _write_documents(spark, tmp_path, docs)

    got = {
        r.source: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in oov_rate(spark, sf).collect()
    }

    cnt = Counter()
    for text, _src in docs:
        cnt.update(text.split(" "))
    vocab = {
        t
        for t, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_K]
    }
    want = {}
    for source in ("s0", "s1"):
        toks = [
            t for text, src in docs if src == source for t in text.split(" ")
        ]
        n_oov = sum(1 for t in toks if t not in vocab)
        want[source] = (len(toks), n_oov, n_oov / len(toks))
    assert got == want
    assert got["s1"][1] > got["s0"][1]  # the rare-heavy source drifts more


def test_chunk_tokens_matches_python_slices(spark, tmp_path):
    """Overlapping token windows ≡ Python slicing: stride starts, window
    widths, short tails, and md5 of the exact chunk text."""
    import hashlib
    import random as _random

    from mysqldump_to_parquet_spark.llm.sampling import (
        CHUNK_S,
        CHUNK_W,
        chunk_tokens,
    )

    rng = _random.Random(79)
    docs = []
    for d in range(8):
        # lengths straddling multiples of the stride, incl. tiny docs
        n = rng.choice([1, CHUNK_S - 1, CHUNK_S, CHUNK_S + 1, 3 * CHUNK_S + 2])
        docs.append((" ".join(f"t{d}_{i}" for i in range(n)), "s0"))
    sf = _write_documents(spark, tmp_path, docs)

    got = {
        (r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_md5)
        for r in chunk_tokens(spark, sf).collect()
    }
    want = {}
    for doc_id, (text, _src) in enumerate(docs):
        toks = text.split(" ")
        n = len(toks)
        for i in range(0, (n - 1) // CHUNK_S + 1):
            chunk = toks[i * CHUNK_S : i * CHUNK_S + CHUNK_W]
            want[(doc_id, i)] = (
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    assert got == want


def test_lang_confusion_is_lang_id_contingency(spark, sf_dir):
    """The confusion matrix ≡ the contingency table of lang_id's own
    per-document predictions vs labels (counts conserve exactly)."""
    from collections import Counter

    from mysqldump_to_parquet_spark.llm.textstats import (
        lang_confusion,
        lang_id,
    )

    pred = lang_id(spark, sf_dir).collect()
    cols = pred[0].asDict()
    assert {"labeled_lang", "predicted_lang"} <= set(cols)
    want = Counter(
        (r.labeled_lang, r.predicted_lang) for r in pred
    )
    got = {
        (r.labeled_lang, r.predicted_lang): r.n_docs
        for r in lang_confusion(spark, sf_dir).collect()
    }
    assert got == dict(want)
    assert sum(got.values()) == len(pred)  # every document lands in one cell


def test_bm25_matches_python_okapi(spark, tmp_path):
    """BM25 ranking ≡ a from-scratch Okapi implementation in Python on a
    crafted corpus (same rounding ladder: per-term 9, per-doc 6; tie
    break by doc_id), with relevance ordering sanity: a doc saturated
    with query terms outranks one with a single mention."""
    import math as _math
    import random as _random

    from mysqldump_to_parquet_spark.llm.terms import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        BM25_TOP,
        bm25,
    )

    rng = _random.Random(89)
    filler = [f"f{i}" for i in range(50)]
    docs = []
    for i in range(40):
        toks = [rng.choice(filler) for _ in range(rng.randint(10, 60))]
        # seed query terms with varying density; doc 0 is saturated,
        # doc 1 has a single mention, many docs have none
        if i == 0:
            toks += list(BM25_QUERY) * 6
        elif i == 1:
            toks.append(BM25_QUERY[0])
        elif i % 3 == 0:
            toks += rng.sample(list(BM25_QUERY), k=rng.randint(1, 3))
        rng.shuffle(toks)
        docs.append((" ".join(toks), "s0"))
    sf = _write_documents(spark, tmp_path, docs)

    got = [(r.doc_id, r.bm25, r.rank) for r in bm25(spark, sf).collect()]

    n_docs = len(docs)
    dls = [len(t.split(" ")) for t, _ in docs]
    avgdl = sum(dls) / n_docs
    df: dict = {}
    for text, _ in docs:
        toks = set(text.split(" "))
        for q in BM25_QUERY:
            if q in toks:
                df[q] = df.get(q, 0) + 1
    scores = {}
    for i, (text, _) in enumerate(docs):
        toks = text.split(" ")
        s = 0.0
        hit = False
        for q in BM25_QUERY:
            tf = toks.count(q)
            if not tf:
                continue
            hit = True
            idf = _math.log(1 + (n_docs - df[q] + 0.5) / (df[q] + 0.5))
            denom = tf + BM25_K1 * (1 - BM25_B + BM25_B * dls[i] / avgdl)
            s += round(idf * tf * (BM25_K1 + 1) / denom, 9)
        if hit:
            scores[i] = round(s, 6)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOP]
    want = [(d, s, r + 1) for r, (d, s) in enumerate(want)]
    assert [(d, r) for d, _s, r in got] == [(d, r) for d, _s, r in want]
    for (gd, gs, _), (_, ws, _) in zip(got, want):
        assert abs(gs - ws) <= 1e-6, (gd, gs, ws)
    ranks = {d: r for d, _s, r in got}
    assert ranks[0] == 1            # saturated doc on top
    assert ranks[1] > 1             # single-mention doc below it


def test_cooccur_pmi_matches_python(spark, tmp_path):
    """Top-K PMI pairs ≡ a Python recomputation from document-frequency
    sets (min term length, min pair support, same rounding + ordering),
    on a corpus with planted always-together and never-together pairs."""
    import math as _math
    import random as _random
    from itertools import combinations

    from mysqldump_to_parquet_spark.llm.terms import (
        MIN_TERM_LEN,
        PMI_MIN_PAIR,
        PMI_TOP_K,
        cooccur_pmi,
    )

    rng = _random.Random(97)
    vocab = [f"word{i:02d}" for i in range(12)]
    docs = []
    for i in range(30):
        toks = rng.sample(vocab, k=rng.randint(2, 6))
        if i % 4 == 0:
            toks += ["alpha_pair", "beta_pair"]  # planted co-occurrence
        toks.append("sh")  # below MIN_TERM_LEN: must be ignored
        rng.shuffle(toks)
        docs.append((" ".join(toks), "s0"))
    sf = _write_documents(spark, tmp_path, docs)

    got = [
        (r.w1, r.w2, r.n_pair, r.pmi)
        for r in cooccur_pmi(spark, sf).collect()
    ]

    doc_terms = [
        {t for t in text.split(" ") if len(t) >= MIN_TERM_LEN}
        for text, _ in docs
    ]
    n_docs = len(docs)
    df: dict = {}
    for ts in doc_terms:
        for t in ts:
            df[t] = df.get(t, 0) + 1
    pair_n: dict = {}
    for ts in doc_terms:
        for a, b in combinations(sorted(ts), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    want = []
    for (a, b), n in pair_n.items():
        if n < PMI_MIN_PAIR:
            continue
        pmi = round(_math.log(n * n_docs / (df[a] * df[b])), 9)
        want.append((a, b, n, pmi))
    want.sort(key=lambda r: (-r[3], r[0], r[1]))
    want = want[:PMI_TOP_K]
    assert got == want
    assert ("alpha_pair", "beta_pair") in {(a, b) for a, b, _, _ in got}
    # the planted pair co-occurs in every doc it appears in → max PMI
    assert got[0][:2] == ("alpha_pair", "beta_pair")


def test_unigram_logprob_matches_python_lm(spark, tmp_path):
    """Add-one unigram LM scores ≡ Python counting with the identical
    rounding ladder (ln p → 9, doc sum → 6); a gibberish doc must score
    strictly lower mean log-prob than an in-distribution one."""
    import math as _math
    import random as _random
    from collections import Counter

    from mysqldump_to_parquet_spark.llm.quality import unigram_logprob

    rng = _random.Random(101)
    common = [f"tok{i}" for i in range(10)]
    docs = []
    for _ in range(15):
        docs.append(
            (" ".join(rng.choice(common) for _ in range(30)), "s0")
        )
    docs.append((" ".join(f"zzz{i}" for i in range(25)), "s0"))  # gibberish
    sf = _write_documents(spark, tmp_path, docs)

    got = {
        r.doc_id: (r.n_tokens, r.sum_lnp, r.mean_lnp, r.ppl_proxy)
        for r in unigram_logprob(spark, sf).collect()
    }

    cnt = Counter()
    for text, _ in docs:
        cnt.update(text.split(" "))
    n_total, v_size = sum(cnt.values()), len(cnt)
    want = {}
    for doc_id, (text, _) in enumerate(docs):
        toks = text.split(" ")
        s = round(
            sum(
                round(_math.log((cnt[t] + 1) / (n_total + v_size)), 9)
                for t in toks
            ),
            6,
        )
        mean = s / len(toks)
        want[doc_id] = (len(toks), s, mean, round(_math.exp(-mean), 6))
    assert got.keys() == want.keys()
    for k in want:
        g, w = got[k], want[k]
        assert g[0] == w[0]
        assert abs(g[1] - w[1]) <= 1e-6
        assert abs(g[2] - w[2]) <= 1e-6
        assert abs(g[3] - w[3]) <= max(1e-4, abs(w[3]) * 1e-5)
    gib = len(docs) - 1
    assert got[gib][2] < min(
        got[d][2] for d in range(len(docs) - 1)
    )  # gibberish scores lowest


def test_split_drift_matches_python_psi(spark, sf_dir):
    """PSI over length bins ≡ Python: same md5 split rule, integer-DIV
    binning, both-sides convention, per-bin round-9 / sum round-6; the
    one-sided bin count must account for every dropped bin."""
    import hashlib
    import math as _math
    from collections import Counter

    from mysqldump_to_parquet_spark.llm.quality import PSI_BIN, split_drift
    from mysqldump_to_parquet_spark.llm.sampling import TRAIN_MAX, VAL_MAX
    from mysqldump_to_parquet_spark.catalog import load_table

    r = split_drift(spark, sf_dir).collect()[0]

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    tr: Counter = Counter()
    te: Counter = Counter()
    for d in docs:
        h = hashlib.md5(str(d.doc_id).encode()).hexdigest()
        if h < TRAIN_MAX:
            tr[d.n_chars // PSI_BIN] += 1
        elif h < VAL_MAX:
            pass  # val excluded
        else:
            te[d.n_chars // PSI_BIN] += 1
    common = set(tr) & set(te)
    one_sided = (set(tr) | set(te)) - common
    t_tr = sum(tr[b] for b in common) + sum(tr[b] for b in set(tr) - common)
    t_te = sum(te[b] for b in common) + sum(te[b] for b in set(te) - common)
    psi = round(
        sum(
            round(
                (tr[b] / t_tr - te[b] / t_te)
                * _math.log((tr[b] / t_tr) / (te[b] / t_te)),
                9,
            )
            for b in common
        ),
        6,
    )
    assert r.n_bins_common == len(common)
    assert r.n_bins_one_sided == len(one_sided)
    assert abs(r.psi - psi) <= 1e-6
    assert r.psi < 0.25  # same-distribution hash split: no drift
