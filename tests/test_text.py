"""Text-analysis operators: golden counts on the documents fixture."""

from __future__ import annotations

from parcial_bigdata_spark.operators import text


def test_token_counts_golden(documents):
    out = {r.source: (r.n_docs, r.ws_tokens, r.regex_tokens)
           for r in text.token_counts(documents).collect()}
    # fixture: web = docs 1,2,4 (10+10+10 ws tokens), book = docs 3,5 (10+8)
    assert out["web"] == (3, 30, 30)
    assert out["book"] == (2, 18, 18)


def test_quality_metrics_shape(documents):
    out = {r.lang: r for r in text.quality_metrics(documents).collect()}
    assert out["en"].n_docs == 4 and out["es"].n_docs == 1
    # no punctuation in fixture texts
    assert out["en"].avg_punct_ratio == 0.0
    # every word in fixture is ≥ 3 chars, space-separated
    assert out["en"].avg_word_len > 3


def test_language_id_flags_english_markers(documents, spark):
    rows = [
        (10, "the cat is on the mat and the dog is here", "en", "web", 42),
        (11, "el perro y el gato de la casa que ladra", "es", "web", 39),
        (12, "zzz qqq xxx www yyy", "xx", "web", 19),
    ]
    extra = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r.lang, r.predicted_lang): r.n_docs
           for r in text.language_id(extra).collect()}
    assert out[("en", "en")] == 1
    assert out[("es", "es")] == 1
    assert out[("xx", "und")] == 1  # below confidence floor


def test_fingerprints_ignore_case_and_punct(spark):
    rows = [
        (1, "Hello, World!", "en", "web", 13),
        (2, "hello world", "en", "web", 11),
        (3, "different text", "en", "web", 14),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.doc_id: r.fingerprint for r in text.fingerprints(docs).collect()}
    assert out[1] == out[2]  # normalization collapses case + punctuation
    assert out[1] != out[3]
    assert len(out[1]) == 32  # md5 hex


def test_gopher_flags_each_rule(spark):
    """One crafted doc per failure mode, plus one that passes all rules."""
    good = " ".join(["the", "and"] + ["word"] * 60)  # 62 words, stopwords, all alpha
    rows = [
        (1, good, "en", "web", len(good)),
        (2, "the and " + " ".join(["word"] * 10), "en", "web", 60),  # too few words
        (3, " ".join(["the", "and"] + ["ab"] * 60), "en", "web", 150),  # short words
        (4, " ".join(["the", "and"] + ["word#"] * 30 + ["word"] * 30), "en", "web", 300),  # symbols
        (5, " ".join(["the", "and"] + ["123"] * 60), "en", "web", 200),  # non-alpha
        (6, " ".join(["word"] * 60), "en", "book", 300),  # no stopwords
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in text.gopher_quality_flags(docs).collect()}
    web = out["web"]
    assert web.n_docs == 5 and web.n_pass == 1
    assert web.fail_word_count == 1
    assert web.fail_word_len == 1  # mean word length < 3
    assert web.fail_symbol_ratio == 1
    assert web.fail_alpha_frac == 1
    assert out["book"].fail_stopwords == 1 and out["book"].n_pass == 0


def test_repetition_ratios_flags_degenerate_doc(spark):
    rows = [
        (1, " ".join(["spam"] * 50), "en", "web", 249),  # fully repetitive
        (2, " ".join(f"w{i}" for i in range(50)), "en", "web", 180),  # all distinct
        (3, "a b", "fr", "web", 3),  # bigram edge: exactly one bigram
        (4, "a", "de", "web", 1),  # no bigrams/trigrams at all
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.lang: r for r in text.repetition_ratios(docs).collect()}
    en = out["en"]
    assert en.n_repetitive == 1  # only the spam doc
    # averages over {spam: ttr=0.02 dup_bg=48/49, distinct: ttr=1 dup_bg=0}
    assert abs(en.avg_distinct_ratio - round((0.02 + 1.0) / 2, 4)) < 1e-9
    assert abs(en.avg_dup_bigram_frac - round((1 - 1 / 49) / 2, 4)) < 1e-9
    assert out["fr"].avg_dup_bigram_frac == 0.0  # 1 distinct bigram of 1
    assert out["de"].avg_dup_bigram_frac == 0.0 and out["de"].avg_dup_trigram_frac == 0.0


def test_pii_redaction_masks_and_counts(spark):
    from pyspark.sql import functions as F

    rows = [
        (1, "mail me at jo.doe+x@example.org or call 555-123-4567", "en", "web", 52),
        (2, "server at 10.0.0.1 and 192.168.1.255 up", "en", "web", 39),
        (3, "nothing sensitive here", "en", "book", 22),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    red = {r.doc_id: r.red for r in
           docs.select("doc_id", text.redact(F.col("text")).alias("red")).collect()}
    assert red[1] == "mail me at <EMAIL> or call <PHONE>"
    assert red[2] == "server at <IPV4> and <IPV4> up"
    assert red[3] == "nothing sensitive here"
    out = {r.source: r for r in text.pii_redaction_accounting(docs).collect()}
    assert (out["web"].n_email, out["web"].n_phone, out["web"].n_ipv4) == (1, 1, 2)
    assert out["web"].n_docs_redacted == 2
    assert out["book"].n_docs_redacted == 0


def test_vocabulary_stats_doc_freq_and_idf(spark):
    """'common' is in all 3 docs (idf=0), 'pair' in 2, the rest in 1;
    ordering is doc_freq desc then word asc."""
    import math

    df = spark.createDataFrame(
        [(1, "common pair alpha", "en", "w", 17),
         (2, "common pair beta", "en", "w", 16),
         (3, "common gamma gamma", "en", "w", 18)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = [(r.word, r.doc_freq, r.idf) for r in text.vocabulary_stats(df).collect()]
    assert out[0] == ("common", 3, 0.0)
    assert out[1] == ("pair", 2, round(math.log(3 / 2), 4))
    assert [w for w, *_ in out[2:]] == ["alpha", "beta", "gamma"]
    assert all(f == 1 and i == round(math.log(3), 4) for _, f, i in out[2:])


def test_word_pair_counts_golden(spark):
    df = spark.createDataFrame(
        [(1, "a b a b", "en", "w", 7), (2, "a b c", "en", "w", 5), (3, "x", "en", "w", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = [(r.pair, r.n_occurrences) for r in text.word_pair_counts(df).collect()]
    # doc1: (a b), (b a), (a b); doc2: (a b), (b c); doc3: too short
    assert out == [("a b", 3), ("b a", 1), ("b c", 1)]


def test_quality_metrics_survives_empty_text(spark):
    """An empty-text doc must profile as a null punct_ratio, not throw
    DIVIDE_BY_ZERO under default-on ANSI (round-5 review, reproduced
    live)."""
    docs = spark.createDataFrame(
        [(1, "", "en", "web", 0), (2, "hello, world", "en", "web", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.lang: r for r in text.quality_metrics(docs).collect()}
    assert rows["en"].n_docs == 2  # both profiled, no crash


def test_vocabulary_excludes_empty_token(spark):
    """A punctuation-only doc normalizes to [''] — the empty string must
    not enter the vocabulary/IDF table (round-5 review)."""
    docs = spark.createDataFrame(
        [(1, "!!!", "en", "web", 3), (2, "alpha beta", "en", "web", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    words_out = {r.word for r in text.vocabulary_stats(docs).collect()}
    assert "" not in words_out
    assert {"alpha", "beta"} <= words_out


def test_word_entropy_row_local_semantics(spark):
    """Shannon entropy over the per-doc word distribution, computed
    row-locally from run-lengths of the sorted array: hand-checked
    values, single-word and single-distinct-word edge cases (the
    latter must render 0.0, not IEEE -0.0)."""
    import math

    from parcial_bigdata_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x x x x"), (3, "q")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.word_entropy(df).collect()}
    expected = -(2 * (2 / 5) * math.log2(2 / 5) + (1 / 5) * math.log2(1 / 5))
    assert (out[1].n_words, out[1].n_unique) == (5, 3)
    assert out[1].entropy == round(expected, 4)
    assert (out[2].n_words, out[2].n_unique) == (4, 1)
    assert repr(out[2].entropy) == "0.0"  # not -0.0
    assert (out[3].n_words, out[3].n_unique, out[3].entropy) == (1, 1, 0.0)


def test_quality_gate_summary_reasons_and_precedence(spark):
    """Composed keep/drop gate: planted exact-dup, too-short, and
    low-entropy docs each land under their reason; precedence is
    exact_dup > length > low_entropy (a short duplicate reports
    exact_dup, a short low-entropy doc reports length)."""
    from parcial_bigdata_spark.operators import text as T

    prose = " ".join(f"w{i}" for i in range(30))  # 30 unique words
    rows = [
        (1, prose, "s1"),
        (2, prose, "s1"),                      # exact dup of 1 (also short-ish)
        (3, "tiny doc here", "s1"),            # length (3 words < 20)
        (4, " ".join(["spam"] * 40), "s2"),    # 40 words, entropy 0
        (5, " ".join(f"u{i}" for i in range(25)), "s2"),  # kept
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in T.quality_gate_summary(docs).collect()}
    assert (out["s1"].n_docs, out["s1"].n_kept) == (3, 1)
    assert (out["s1"].n_exact_dup, out["s1"].n_length) == (1, 1)
    assert (out["s2"].n_kept, out["s2"].n_low_entropy) == (1, 1)


def test_bpe_train_merges_golden_and_edges(spark):
    """Greedy BPE training on a hand-computable corpus: merge order,
    weighted pair counts (each occurrence × word frequency), greedy
    left-to-right non-overlap ('aaa' yields ONE 'aa'), learned merges
    feeding later ranks, single-char words ignored, and early stop when
    the vocabulary is fully merged."""
    from parcial_bigdata_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "aaab aaab ab x")], "doc_id long, text string"
    )
    out = [tuple(r) for r in T.bpe_train_merges(docs, n_merges=3).collect()]
    assert out == [
        (1, "a", "a", "aa", 4),
        (2, "a", "b", "ab", 3),
        (3, "aa", "ab", "aaab", 2),
    ]
    # early stop: rank 3 collapses every multi-char word to one symbol
    # ('aaab', 'ab'; 'x' never had a pair) — asking for 10 returns only
    # the 3 learnable merges
    more = T.bpe_train_merges(docs, n_merges=10).collect()
    assert [r.rank for r in more] == [1, 2, 3]


def test_bpe_encode_token_counts_applies_merges(spark):
    """Encoding applies the learned merges greedily per word: fully
    merged words count 1 token; with only a partial merge list the
    counts reflect the intermediate segmentation."""
    from parcial_bigdata_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "aaab aaab ab x", "s1"), (2, "aaab", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in T.bpe_encode_token_counts(docs).collect()}
    assert (out["s1"].ws_tokens, out["s1"].bpe_tokens) == (4, 4)
    assert (out["s2"].ws_tokens, out["s2"].bpe_tokens) == (1, 1)
    partial = {
        r.source: r
        for r in T.bpe_encode_token_counts(docs, merges=[("a", "a")]).collect()
    }
    # aaab -> [aa, a, b] (greedy non-overlap), ab -> [a, b], x -> [x]
    assert partial["s1"].bpe_tokens == 3 + 3 + 2 + 1
    assert partial["s2"].bpe_tokens == 3


def test_bpe_encode_production_size_merge_table(spark):
    """Vocabulary-level encode at production merge-table size: 64
    merges span 4 chunked projections (chunk=16, iter_checkpoint cuts
    between them), and the result matches a Python greedy-merge
    reference word-for-word.  Pins both the chunking machinery and the
    distinct-word + join-back accounting (round-8 verdict item 2)."""
    from parcial_bigdata_spark.operators import text as T

    def ref_encode(word, merges):
        syms = list(word)
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    toks = ["a", "b", "aa", "bb", "ab", "ba", "aab", "bba"]
    merges = [(l, r) for l in toks for r in toks]  # 64 entries
    assert len(merges) == 64

    words = [
        "aaabbbab", "abababab", "bbaa", "aabbaabb", "a", "b",
        "babababa", "aaaa", "bbbb", "abba", "baab", "aabbab",
    ]
    docs = [
        (1, " ".join(words[:6]), "s1"),
        (2, " ".join(words[6:]), "s2"),
        (3, " ".join(words), "s1"),
        (4, "", "s3"),  # empty text: counts as a doc, zero tokens
    ]
    out = {
        r.source: r
        for r in T.bpe_encode_token_counts(
            spark.createDataFrame(
                docs, "doc_id long, text string, source string"
            ),
            merges=merges,
            chunk=16,
        ).collect()
    }

    def ref_counts(texts):
        ws = bpe = 0
        for t in texts:
            for w in t.split(" "):
                if w:
                    ws += 1
                    bpe += len(ref_encode(w, merges))
        return ws, bpe

    assert (out["s1"].n_docs, out["s2"].n_docs, out["s3"].n_docs) == (2, 1, 1)
    assert (out["s1"].ws_tokens, out["s1"].bpe_tokens) == ref_counts(
        [docs[0][1], docs[2][1]]
    )
    assert (out["s2"].ws_tokens, out["s2"].bpe_tokens) == ref_counts(
        [docs[1][1]]
    )
    assert (out["s3"].ws_tokens, out["s3"].bpe_tokens) == (0, 0)


def test_bm25_search_golden(spark):
    """Hand-checkable BM25: scores follow the RSJ+1 idf formula, docs
    with no query term are excluded, ranking is (score desc, doc_id)."""
    import math

    from parcial_bigdata_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "cat cat dog x", "en", "s1"),
            (2, "cat y y y", "en", "s1"),
            (3, "z z", "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = T.bm25_search(docs, query_terms=["cat", "dog"]).collect()
    assert [r.doc_id for r in rows] == [1, 2]

    def contrib(tf, df, dl, n=3, avgdl=10 / 3, k1=1.2, b=0.75):
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    exp1 = round(contrib(2, 2, 4) + contrib(1, 1, 4), 4)
    exp2 = round(contrib(1, 2, 4) + contrib(0, 1, 4), 4)
    assert abs(rows[0].bm25_score - exp1) < 1e-9
    assert abs(rows[1].bm25_score - exp2) < 1e-9


def test_lm_perplexity_hand_computed(spark):
    """Two-doc corpus, hand-computed add-0.5 sentinel bigram LM.

    streams: d1 = [<s> a b a], d2 = [<s> b b]
    unigrams (sentinel incl.): <s>=2, a=2, b=3 → V=3, k·V=1.5
    bigrams: (<s>,a)=1, (a,b)=1, (b,a)=1, (<s>,b)=1, (b,b)=1
    d1: -ln(1.5/3.5) - ln(1.5/3.5) - ln(1.5/4.5)   (n=3)
    d2: -ln(1.5/3.5) - ln(1.5/4.5)                  (n=2)
    """
    import math

    from parcial_bigdata_spark.operators.text import lm_perplexity

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b b")], "doc_id int, text string"
    )
    got = {r.doc_id: r for r in lm_perplexity(docs).collect()}
    d1 = -(math.log(1.5 / 3.5) + math.log(1.5 / 3.5) + math.log(1.5 / 4.5))
    d2 = -(math.log(1.5 / 3.5) + math.log(1.5 / 4.5))
    assert got[1].n_tokens == 3 and got[2].n_tokens == 2
    assert got[1].avg_nll == round(d1 / 3, 4)
    assert got[2].avg_nll == round(d2 / 2, 4)
    assert got[1].perplexity == round(math.exp(d1 / 3), 2)


def test_lm_perplexity_single_token_doc(spark):
    """A 1-token doc scores one (<s>, w) bigram: n_tokens=1."""
    import math

    from parcial_bigdata_spark.operators.text import lm_perplexity

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x x")], "doc_id int, text string"
    )
    got = {r.doc_id: r for r in lm_perplexity(docs).collect()}
    # streams [<s> x], [<s> x x]: uni <s>=2 x=3, V=2; B(<s>,x)=2
    assert got[1].n_tokens == 1
    assert got[1].avg_nll == round(-math.log(2.5 / 3.0), 4)


def test_lm_perplexity_validates(spark):
    import pytest as _pt

    from parcial_bigdata_spark.operators.text import lm_perplexity

    docs = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    with _pt.raises(ValueError, match="k_smooth"):
        lm_perplexity(docs, k_smooth=0.0)


def test_top_tfidf_terms_golden(spark):
    """Hand-checkable TF-IDF: 'cat' appears in 1 of 3 docs (idf=ln 3),
    'the' in all (idf=0 → never a keyword); ties break by word."""
    import math

    from parcial_bigdata_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "the cat cat sat", "s"),
            (2, "the dog sat sat", "s"),
            (3, "the bird", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {}
    for r in T.top_tfidf_terms(docs, k=2).collect():
        out.setdefault(r.doc_id, []).append((r.rank, r.word, r.tf, r.tfidf))
    ln3 = math.log(3.0)
    ln15 = math.log(1.5)
    assert out[1] == [
        (1, "cat", 2, round(2 * ln3, 4)),
        (2, "sat", 1, round(ln15, 4)),
    ]
    # dog: 1·ln3 ≈ 1.0986 beats sat: 2·ln1.5 ≈ 0.8109
    assert out[2] == [
        (1, "dog", 1, round(ln3, 4)),
        (2, "sat", 2, round(2 * ln15, 4)),
    ]
    assert out[3] == [
        (1, "bird", 1, round(ln3, 4)),
        (2, "the", 1, 0.0),
    ]


def test_pmi_collocations_separates_phrases_from_chance(spark):
    """'new york' (always together) outranks 'of the' in PMI even when
    'of the' is more frequent; ranking stays by exact count."""
    import math

    from parcial_bigdata_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, "of the new york of the city", "s") for i in range(6)],
        "doc_id long, text string, source string",
    )
    rows = {r.pair: r for r in T.pmi_collocations(docs, min_count=5).collect()}
    # counts: 'of the' 12, 'the new' 6, 'new york' 6, 'york of' 6, 'the city' 6
    assert rows["of the"].n_pair == 12
    assert rows["new york"].n_pair == 6
    # exact PMI: P(new york)=6/36, P(new)=P(york)=6/42 each
    exp = math.log((6 / 36) / ((6 / 42) * (6 / 42)))
    assert rows["new york"].pmi == round(exp, 4)
    assert rows["new york"].pmi > rows["of the"].pmi


def test_zipf_fit_exact_slope(spark):
    """Hand corpus with known counts: 'a' x8, 'b' x4, 'c' x2, 'd' x1 in
    one language — the slope of ln(count) on ln(rank) is computable
    exactly in Python and must match to the rounding edge."""
    import math

    body = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    docs = spark.createDataFrame(
        [(1, body, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    row = text.zipf_fit(docs).collect()[0]
    assert (row.lang, row.n_terms, row.top_freq) == ("en", 4, 8)
    xs = [math.log(r) for r in (1, 2, 3, 4)]
    ys = [math.log(c) for c in (8, 4, 2, 1)]
    mx, my = sum(xs) / 4, sum(ys) / 4
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert row.zipf_slope == round(slope, 4)
    # rank ties break by word: equal counts still rank deterministically
    tie = spark.createDataFrame(
        [(1, "x y x y z", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    t = text.zipf_fit(tie).collect()[0]
    assert t.n_terms == 3 and t.top_freq == 2


def test_sentence_stats_golden(spark):
    docs = spark.createDataFrame(
        [
            (1, "One two three. Four five! Six?? "),  # 3 sentences: 3/2/1
            (2, "no terminator at all"),              # 1 sentence of 4
            (3, "...!!!"),                            # only terminators: excluded
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.sentence_stats(docs).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert (r1.n_sentences, r1.n_words, r1.max_sentence_words) == (3, 6, 3)
    assert r1.avg_sentence_words == 2.0
    assert (rows[2].n_sentences, rows[2].n_words) == (1, 4)


def test_source_drift_chisq_exact_flags(spark):
    from parcial_bigdata_spark.operators.text import source_drift_chisq

    docs = spark.createDataFrame(
        [
            (1, "a a a a a b c", "en", "srcA", 13),   # length-4 source: ref
            (2, "b b b b b a c", "en", "srcBB", 13),  # length-5: other
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        r.word: r
        for r in source_drift_chisq(docs, min_count=1, threshold=4).collect()
    }
    # word a: o1=5, o2=1, n1=n2=7, N=14; diff = 5*7-1*7 = 28;
    # X² = 14*784 / (6*8*49) = 10976/2352 = 4.666667 > 4 -> drifted
    assert (rows["a"].n_ref, rows["a"].n_other) == (5, 1)
    assert rows["a"].drifted == 1 and rows["b"].drifted == 1
    assert rows["a"].chisq == 4.666667  # ratio_round is deterministic
    # balanced word: zero signal
    assert rows["c"].drifted == 0 and rows["c"].chisq == 0.0


def test_source_drift_min_count_gate(spark):
    from parcial_bigdata_spark.operators.text import source_drift_chisq

    docs = spark.createDataFrame(
        [(1, "rare common common", "en", "srcA", 18),
         (2, "common common", "en", "srcBB", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    words = [r.word for r in source_drift_chisq(docs, min_count=2).collect()]
    assert words == ["common"]


def test_heavy_hitters_exact_under_tiny_arrow_batches(spark):
    from parcial_bigdata_spark.operators.text import heavy_hitters

    texts = ["a a a a a"] * 6 + ["b b b b b"] * 2 + ["c c c c c"] * 4
    docs = spark.createDataFrame(
        [(i, t, "en", "srcA", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # tiny Arrow batches must not change the exact counts or drop a
    # boundary word
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = {r.word: r.n_occurrences for r in heavy_hitters(docs, 20).collect()}
        assert out == {"a": 30, "c": 20}  # boundary word included, b=10 out
        out = {r.word: r.n_occurrences for r in heavy_hitters(docs, 30).collect()}
        assert out == {"a": 30}
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_heavy_hitters_empty_corpus(spark):
    from parcial_bigdata_spark.operators.text import heavy_hitters

    docs = spark.createDataFrame(
        [(1, "", "en", "srcA", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = heavy_hitters(docs, 5)
    assert out.columns == ["word", "n_occurrences"]
    assert out.count() == 0


def test_heavy_hitters_builds_lazily(spark):
    """Building the heavy-hitters frame runs no Spark job (no corpus
    count at construction) and plans no Python stage."""
    from parcial_bigdata_spark.operators.text import heavy_hitters

    docs = spark.createDataFrame(
        [(1, "a a b", "en", "srcA", 5), (2, "a c", "en", "srcA", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sc = spark.sparkContext
    group = "heavy_hitters_builds_lazily"
    sc.setJobGroup(group, "heavy_hitters laziness check")
    try:
        out = heavy_hitters(docs, 2)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert "MapInPandas" not in out._jdf.queryExecution().toString()
        assert [(r.word, r.n_occurrences) for r in out.collect()] == [("a", 3)]
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_length_ks_drift_exact_argmax(spark):
    from parcial_bigdata_spark.operators.text import length_ks_drift

    # half A (srcA, len 4): lengths 1,2,3 ; half B: lengths 3,4,5
    # CDF gaps x n_a*n_b=9: len1 |3-0|=3, len2 |6-0|=6, len3 |9-3|=6,
    # len4 |9-6|=3, len5 0 -> argmax ties at 6, smaller length wins
    docs = spark.createDataFrame(
        [(1, "x", "en", "srcA", 1), (2, "x", "en", "srcA", 2),
         (3, "x", "en", "srcA", 3),
         (4, "x", "en", "srcBB", 3), (5, "x", "en", "srcBB", 4),
         (6, "x", "en", "srcBB", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    [r] = length_ks_drift(docs).collect()
    assert (r.ks_at_length, r.n_a, r.n_b) == (2, 3, 3)
    assert r.ks_statistic == 6 / 9


def test_vocab_growth_curve_exact_counts(spark):
    from parcial_bigdata_spark.operators.text import vocab_growth_curve

    # 2 docs, 2 slices: whichever doc the md5 line puts first, the
    # shared word counts as NEW only in its first slice
    docs = spark.createDataFrame(
        [(1, "alpha shared", "en", "srcA", 12),
         (2, "beta shared gamma", "en", "srcA", 17)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = vocab_growth_curve(docs, n_slices=2).collect()
    assert [r.slice for r in rows] == [1, 2]
    assert sum(r.new_words for r in rows) == 4  # alpha, beta, gamma, shared
    assert rows[-1].cum_vocab == 4
    assert rows[-1].cum_tokens == 5
    # growth is monotone and the later slice repeats 'shared' for free
    assert rows[0].new_words >= 2


def test_vocab_growth_monotone_on_fixture(documents):
    from parcial_bigdata_spark.operators.text import vocab_growth_curve

    rows = vocab_growth_curve(documents).collect()
    cums = [r.cum_vocab for r in rows]
    assert cums == sorted(cums)
    assert rows[-1].cum_vocab >= rows[0].new_words


def test_heavy_hitters_exact_boundary_no_float_roundup(spark):
    """Regression (round-10 review): a word with exactly min_count
    occurrences in a 147-token corpus is kept — a float threshold of
    5/147*147 rounds UP to 5.000000000000001 and once pruned it."""
    from parcial_bigdata_spark.operators.text import heavy_hitters

    # corpus of exactly 147 tokens, one word exactly 5 times
    texts = ["boundary " * 5 + "filler " * 20, "filler " * 50, "filler " * 72]
    docs = spark.createDataFrame(
        [(i, t.strip(), "en", "srcA", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    n_total = sum(len(t.split()) for t in texts)
    assert n_total == 147
    out = {r.word: r.n_occurrences for r in heavy_hitters(docs, 5).collect()}
    assert out == {"boundary": 5, "filler": 142}
