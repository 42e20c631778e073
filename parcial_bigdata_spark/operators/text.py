"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline extensions (BASELINE.json north star): quality
scoring, token counting, language-ID heuristic, document fingerprinting.
Everything is built-in string/regex/array expressions — codegen'd,
shuffle-free until the final small aggregate — so the same plan streams
through 100 TB of text at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parcial_bigdata_spark.operators import scale

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

# BPE-ish pre-tokenizer: letter runs, digit runs, or single other glyphs.
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def words(text: Column | str) -> Column:
    return F.split(text, " ")


def normalized(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse all
    non-alphanumeric runs to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "))


def quality_metrics(documents: DataFrame) -> DataFrame:
    """Per-language quality profile: length, word stats, punctuation and
    stopword ratios — the usual pre-training quality filters."""
    w = words(F.col("text"))
    n_words = F.size(w)
    n_chars = F.length("text")
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0))
    stop_hits = F.size(F.filter(w, lambda t: t.isin(*LANG_MARKERS["en"])))
    per_doc = documents.select(
        "lang",
        n_chars.alias("chars"),
        n_words.alias("nw"),
        # try_divide: an empty-text doc (n_chars=0) must profile as a
        # null ratio, not throw DIVIDE_BY_ZERO under default-on ANSI
        F.try_divide(n_punct.cast("double"), n_chars).alias("punct_ratio"),
        (stop_hits.cast("double") / n_words).alias("stop_ratio"),
        (n_chars.cast("double") / n_words).alias("avg_word_len"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("chars"), 2).alias("avg_chars"),
            F.round(F.avg("nw"), 2).alias("avg_words"),
            F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
            F.round(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
            F.round(F.avg("avg_word_len"), 4).alias("avg_word_len"),
        )
        .orderBy("lang")
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace vs BPE-ish regex token counts, aggregated per source —
    the 'how many tokens is this corpus' accounting query."""
    ws_tokens = F.size(words(F.col("text")))
    re_tokens = F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0))
    return (
        documents.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ws_tokens).alias("ws_tokens"),
            F.sum(re_tokens).alias("regex_tokens"),
        )
        .orderBy("source")
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-lexicon language ID: score = hit-ratio per language, argmax
    with a confidence floor.  Confusion-matrix output against the labeled
    ``lang`` column."""
    w = words(normalized(F.col("text")))
    n_words = F.size(w)

    def _hits(markers: list[str]):
        # closure factory: a default-arg lambda would make PySpark treat
        # the extra parameter as a lambda variable
        return lambda t: t.isin(*markers)

    scores = [
        (F.size(F.filter(w, _hits(markers))).cast("double") / n_words).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]
    scored = documents.select("doc_id", "lang", n_words.alias("nw"), *scores)
    langs = list(LANG_MARKERS)
    best_score = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best_score < 0.05, F.lit("und"))
    for l in langs:
        pred = pred.when(F.col(f"score_{l}") == best_score, F.lit(l))
    predicted = scored.select("doc_id", "lang", pred.alias("predicted_lang"))
    return (
        predicted.groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


def quality_pass_rates(
    documents: DataFrame,
    min_chars: int = 120,
    max_word_len: float = 12.0,
) -> DataFrame:
    """Quality-gate pass rates per language: the pre-training corpus
    filter (length + average-word-length gates) reported as kept/total —
    the accounting view a data pipeline emits alongside the filtered
    corpus itself."""
    n_words = F.size(F.split(F.col("text"), " "))
    awl = F.length("text").cast("double") / n_words
    passes = (F.col("n_chars") >= min_chars) & (awl <= max_word_len)
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(passes, 1).otherwise(0)).alias("n_pass"),
            F.round(
                F.sum(F.when(passes, 1).otherwise(0)) / F.count("*"), 4
            ).alias("pass_rate"),
        )
        .orderBy("lang")
    )


def top_words_per_lang(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k words per language: explode → per-(lang, word) count (one
    shuffle with map-side partials) → per-lang row_number top-k.  The
    vocabulary-building primitive for corpus analysis; word counts are
    the high-cardinality agg, the top-k window only sees |vocab| rows."""
    from pyspark.sql import Window

    w = documents.select(
        "lang", F.explode(F.split(normalized(F.col("text")), " ")).alias("word")
    ).where(F.col("word") != "")
    counts = w.groupBy("lang", "word").agg(F.count("*").alias("n"))
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word").asc())
    )
    return (
        counts.withColumn("rnk", rnk)
        .where(F.col("rnk") <= k)
        .select("lang", "rnk", "word", "n")
        .orderBy("lang", "rnk")
    )


def sentence_stats(documents: DataFrame) -> DataFrame:
    """Per-document sentence segmentation profile — the
    context-window-chunking planner input (chunkers split on sentence
    boundaries; the planner needs the length distribution first).
    Sentences are maximal runs between ``[.!?]+`` terminator runs,
    trimmed, empties dropped; words are non-empty space tokens.

    Entirely row-local (split / transform / filter / fold HOFs — zero
    exchanges before the output sort).  Docs with no non-empty sentence
    are excluded.  Output: n_sentences, n_words, avg/max words per
    sentence."""
    sentences = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    per = documents.select("doc_id", sentences.alias("ss")).where(
        F.size("ss") > 0
    )
    wcs = F.transform(
        "ss",
        lambda s: F.size(F.filter(F.split(s, " "), lambda w: w != "")),
    )
    return (
        per.withColumn("wcs", wcs)
        .select(
            "doc_id",
            F.size("ss").alias("n_sentences"),
            F.aggregate("wcs", F.lit(0), lambda a, x: a + x).alias("n_words"),
            F.round(
                F.aggregate("wcs", F.lit(0), lambda a, x: a + x).cast("double")
                / F.size("ss"),
                4,
            ).alias("avg_sentence_words"),
            F.array_max("wcs").alias("max_sentence_words"),
        )
        .orderBy("doc_id")
    )


def zipf_fit(documents: DataFrame, k: int = 100) -> DataFrame:
    """Zipf rank-frequency fit per language: least-squares slope of
    ln(count) on ln(rank) over each language's top-``k`` words — the
    corpus-health diagnostic (natural language tracks slope ≈ −1;
    boilerplate-heavy or synthetic text bends the curve, so a drifting
    slope flags a poisoned crawl slice before any model sees it).

    One exploded word count (map-side partials — the only
    high-cardinality shuffle), then a per-lang top-k row_number (ties
    broken by word for a deterministic rank; WindowGroupLimit pushes
    the k-filter map-side) and a per-lang closing aggregate of the
    regression moments over ≤k rows.  Slope =
    (Σxy − n·x̄·ȳ) / (Σx² − n·x̄²), x = ln rank, y = ln count, rounded
    at the output edge on both engines."""
    from pyspark.sql import Window

    w = documents.select(
        "lang",
        F.explode(F.split(normalized(F.col("text")), " ")).alias("word"),
    ).where(F.col("word") != "")
    counts = w.groupBy("lang", "word").agg(F.count("*").alias("n"))
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word").asc())
    )
    top = counts.withColumn("r", rnk).where(F.col("r") <= k)
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("n").cast("double"))
    cnt = F.count(F.lit(1))
    slope = (F.sum(x * y) - cnt * F.avg(x) * F.avg(y)) / (
        F.sum(x * x) - cnt * F.avg(x) * F.avg(x)
    )
    return (
        top.groupBy("lang")
        .agg(
            cnt.alias("n_terms"),
            F.round(slope, 4).alias("zipf_slope"),
            F.max("n").cast("long").alias("top_freq"),
        )
        .orderBy("lang")
    )


def gopher_quality_flags(
    documents: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_word_len: float = 3.0,
    max_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style heuristic quality rules (Rae et al. 2021, public
    corpus-filtering recipe), reported as per-source rule-failure counts
    plus the all-rules pass count.

    Every rule is a built-in array/regex expression over the document's
    own words — row-local, codegen'd, no shuffle until the per-source
    aggregate — so the filter runs at scan speed over 100 TB and the
    accounting aggregate moves |sources| rows."""
    w = words(F.col("text"))
    nw = F.size(w)
    word_chars = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("double")
    mean_wl = word_chars / nw
    symbols = F.regexp_count("text", F.lit(r"#|\.\.\.")).cast("double") / nw
    alpha_frac = (
        F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]"))).cast("double") / nw
    )
    stop_hits = F.size(F.filter(w, lambda t: t.isin(*LANG_MARKERS["en"])))
    fails = {
        "fail_word_count": ~nw.between(min_words, max_words),
        "fail_word_len": ~mean_wl.between(min_word_len, max_word_len),
        "fail_symbol_ratio": symbols > max_symbol_ratio,
        "fail_alpha_frac": alpha_frac < min_alpha_frac,
        "fail_stopwords": stop_hits < min_stop_hits,
    }
    flagged = documents.select(
        "source", *[cond.alias(name) for name, cond in fails.items()]
    )
    passed = ~sum([F.col(n).cast("int") for n in fails], F.lit(0)).cast("boolean")
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            *[F.sum(F.col(n).cast("int")).alias(n) for n in fails],
            F.sum(passed.cast("int")).alias("n_pass"),
        )
        .orderBy("source")
    )


def repetition_ratios(documents: DataFrame, min_distinct_ratio: float = 0.3) -> DataFrame:
    """Repetition detection (the 'degenerate generated text' filter):
    type-token ratio plus duplicate bigram/trigram fractions, averaged
    per language with a count of docs below the distinct-word floor.

    N-grams are built array-side with transform over an index sequence —
    no explode, no shuffle of the token stream; the only exchange is the
    final per-language aggregate."""
    d = documents.withColumn("w", words(F.col("text")))
    grams = {
        2: "CASE WHEN size(w) < 2 THEN array() ELSE "
        "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1])) END",
        3: "CASE WHEN size(w) < 3 THEN array() ELSE "
        "transform(sequence(0, size(w)-3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])) END",
    }
    dup_frac = {
        n: F.when(F.size(F.expr(g)) == 0, F.lit(0.0)).otherwise(
            1.0
            - F.size(F.array_distinct(F.expr(g))).cast("double") / F.size(F.expr(g))
        )
        for n, g in grams.items()
    }
    distinct_ratio = F.size(F.array_distinct(F.col("w"))).cast("double") / F.size("w")
    per_doc = d.select(
        "lang",
        distinct_ratio.alias("distinct_ratio"),
        dup_frac[2].alias("dup_bigram_frac"),
        dup_frac[3].alias("dup_trigram_frac"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("distinct_ratio"), 4).alias("avg_distinct_ratio"),
            F.round(F.avg("dup_bigram_frac"), 4).alias("avg_dup_bigram_frac"),
            F.round(F.avg("dup_trigram_frac"), 4).alias("avg_dup_trigram_frac"),
            F.sum(
                (F.col("distinct_ratio") < min_distinct_ratio).cast("int")
            ).alias("n_repetitive"),
        )
        .orderBy("lang")
    )


# Public-knowledge PII surface patterns (emails, NANP-ish phones, IPv4).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact(text: Column | str) -> Column:
    """Replace every PII match with a typed placeholder — the transform a
    pipeline applies before training.  Pure regexp_replace chain: stays
    inside codegen, scan-speed at any scale."""
    out = F.col(text) if isinstance(text, str) else text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_redaction_accounting(documents: DataFrame) -> DataFrame:
    """Per-source PII accounting: match counts per pattern and how many
    documents change under redaction — the audit view shipped alongside
    the redacted corpus."""
    counts = {
        name: F.regexp_count("text", F.lit(pat)) for name, pat in PII_PATTERNS.items()
    }
    per_doc = documents.select(
        "source",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        (redact(F.col("text")) != F.col("text")).cast("int").alias("doc_redacted"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            *[F.sum(f"n_{name}").alias(f"n_{name}") for name in PII_PATTERNS],
            F.sum("doc_redacted").alias("n_docs_redacted"),
        )
        .orderBy("source")
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Deterministic content fingerprint: md5 of the normalized text.
    The join key for exact-dedup across shards/snapshots at scale (hash
    once, compare 16 bytes instead of full text)."""
    return documents.select(
        "doc_id",
        F.md5(normalized(F.col("text"))).alias("fingerprint"),
        "lang",
        "source",
    ).orderBy("doc_id")


def vocabulary_stats(documents: DataFrame, top_n: int = 100) -> DataFrame:
    """Corpus vocabulary profile: per-word document frequency and IDF —
    the first pass of tokenizer training / stopword derivation.

    Distinct-words-per-doc explode then one groupBy(word): shuffle rows
    = Σ|doc vocabularies|, with map-side partial counts.  The corpus
    doc count joins in as a broadcast single-row aggregate (no driver
    collect).  Top-N by (doc_freq desc, word) is a TakeOrdered, not a
    global sort."""
    dw = documents.select(
        F.explode(F.array_distinct(words(normalized(F.col("text"))))).alias("word")
    ).where(F.col("word") != "")  # an all-punctuation doc normalizes to ['']
    total = documents.agg(F.count("*").alias("n_corpus_docs"))
    return (
        dw.groupBy("word")
        .agg(F.count("*").alias("doc_freq"))
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "doc_freq",
            F.round(
                F.log(F.col("n_corpus_docs").cast("double") / F.col("doc_freq")), 4
            ).alias("idf"),
        )
        .orderBy(F.col("doc_freq").desc(), "word")
        .limit(top_n)
    )


def top_tfidf_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Per-document keyword extraction: the top-k terms by TF·IDF
    (idf = ln(N/df)) — the classic summarize-what-this-doc-is-about op
    and the lexical feature vector for routing/clustering.

    Plan: one explode+groupBy builds the (doc, word, tf) table; the
    word document-frequency table derives from IT (already distinct on
    (doc, word) — no second corpus scan); the corpus doc count enters
    as a broadcast single-row aggregate; the per-doc top-k is a
    row_number window that WindowGroupLimit prunes to per-partition
    top-k before the exchange.  Ranking ties break by word, so the
    selection is deterministic; scores round at the output edge."""
    w = words(normalized(F.col("text")))
    tf = (
        documents.select("doc_id", F.explode(w).alias("word"))
        .where(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("word").agg(F.count(F.lit(1)).alias("doc_freq"))
    total = documents.agg(F.count(F.lit(1)).alias("n_corpus_docs"))
    score = F.col("tf") * F.log(
        F.col("n_corpus_docs").cast("double") / F.col("doc_freq")
    )
    scored = (
        tf.join(df_counts, "word")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "word", "tf", "doc_freq", score.alias("s"))
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("s").desc(), F.col("word").asc()
    )
    return (
        scored.select(
            "doc_id",
            F.row_number().over(win).alias("rank"),
            "word",
            "tf",
            "doc_freq",
            F.round("s", 4).alias("tfidf"),
        )
        .where(F.col("rank") <= k)
        .orderBy("doc_id", "rank")
    )


def word_pair_counts(documents: DataFrame, top_n: int = 50) -> DataFrame:
    """Corpus-wide adjacent word-pair frequencies — the first merge-
    candidate table of BPE-style tokenizer training.

    Index-explode pattern (never explode a computed pair array — the
    Generate would re-evaluate it per element, see dedup._doc_gram_stream):
    explode the cheap position sequence, build each pair string once per
    row in codegen, one groupBy(pair) with map-side partial counts;
    top-N is a TakeOrdered."""
    w = words(normalized(F.col("text")))
    pairs = (
        documents.select(w.alias("w"))
        .where(F.size("w") >= 2)
        .select("w", F.explode(F.sequence(F.lit(0), F.size("w") - 2)).alias("i"))
        .select(
            F.concat_ws(
                " ", F.get("w", F.col("i")), F.get("w", F.col("i") + 1)
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(top_n)
    )


def pmi_collocations(
    documents: DataFrame, min_count: int = 5, top_n: int = 50
) -> DataFrame:
    """Collocation mining: adjacent word pairs ranked by frequency with
    their pointwise mutual information — PMI separates real phrases
    ("new york") from chance co-occurrence of frequent words ("of the"),
    the classic phrase-vocabulary builder for tokenizers and query
    expansion.

    Two map-side-combining count tables (bigrams; unigrams) from one
    logical corpus scan each, joined on the tiny surviving-pair frame
    after the ``min_count`` floor; corpus totals ride in as a broadcast
    single-row aggregate.  Ranking is by EXACT integer count (then
    pair), never by the float PMI — so the selected row set is
    bit-deterministic across engines and the PMI is a reported value,
    rounded at the edge."""
    w = words(normalized(F.col("text")))
    toks = documents.select(w.alias("w")).where(F.size("w") >= 1)
    bigrams = (
        toks.where(F.size("w") >= 2)
        .select("w", F.explode(F.sequence(F.lit(0), F.size("w") - 2)).alias("i"))
        .select(
            F.get("w", F.col("i")).alias("w1"),
            F.get("w", F.col("i") + 1).alias("w2"),
        )
        .where((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    unigrams = (
        toks.select(F.explode("w").alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )
    totals = (
        toks.select(
            F.sum(F.size(F.filter("w", lambda x: x != ""))).alias("n_uni")
        )
        .crossJoin(
            toks.where(F.size("w") >= 2).select(
                F.sum(F.size("w") - 1).alias("n_bi")
            )
        )
    )
    # PMI = ln( P(xy) / (P(x)·P(y)) ) with P from exact counts
    pmi = F.log(
        F.col("n_pair").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
        / (
            F.col("n_bi").cast("double")
            * F.col("n_w1").cast("double")
            * F.col("n_w2").cast("double")
        )
    )
    # unigrams are NOT force-broadcast: at corpus scale the vocabulary
    # is the big side and the floored pair table the small one — AQE
    # picks the broadcast side from runtime sizes
    return (
        bigrams.join(
            unigrams.withColumnRenamed("word", "w1").withColumnRenamed(
                "n_word", "n_w1"
            ),
            "w1",
        )
        .join(
            unigrams.withColumnRenamed("word", "w2").withColumnRenamed(
                "n_word", "n_w2"
            ),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("pair"),
            "n_pair",
            "n_w1",
            "n_w2",
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.col("n_pair").desc(), F.col("pair").asc())
        .limit(top_n)
    )


def word_entropy(documents: DataFrame) -> DataFrame:
    """Per-document word-distribution Shannon entropy — the classic
    perplexity-proxy quality signal (gibberish and keyword-stuffed spam
    sit at the extremes; natural prose clusters mid-range).

    Computed ROW-LOCALLY with higher-order functions over the sorted
    word array — run-length boundaries give the per-word counts without
    an explode + two-shuffle groupBy, so the plan stays a straight scan
    (the module contract: shuffle-free until the final small
    aggregate; here there is no aggregate at all).  The DuckDB oracle
    computes the same quantity relationally (unnest + group) — same
    math, independent formulation.

    Each stage is materialized as its own projection column: a lambda
    that referenced ``array_sort(split(...))`` directly would re-split
    and re-sort the document on EVERY element access inside the HOF
    (no common-subexpression elimination across lambda invocations —
    measured 87 s vs 2 s on 5k docs), while a column reference is one
    evaluation per row."""
    staged = documents.select(
        "doc_id", F.array_sort(F.split(F.col("text"), " ")).alias("ws")
    ).select("doc_id", "ws", F.size("ws").alias("n"))
    staged = staged.select(
        "doc_id",
        "n",
        F.filter(
            F.sequence(F.lit(0), F.col("n") - 1),
            lambda i: (i == 0)
            | (
                F.element_at(F.col("ws"), i + 1)
                != F.element_at(F.col("ws"), i)
            ),
        ).alias("starts"),
    )
    ends = F.concat(
        F.slice(F.col("starts"), 2, F.size("starts") - 1),
        F.array(F.col("n")),
    )
    staged = staged.select(
        "doc_id",
        "n",
        F.size("starts").alias("n_unique"),
        F.zip_with(F.col("starts"), ends, lambda s, e: e - s).alias("counts"),
    )
    p = lambda c: c.cast("double") / F.col("n")  # noqa: E731
    # + 0.0 collapses IEEE -0.0 (single-distinct-word docs negate an
    # exact 0.0 sum) to plain 0.0 — repr-level parity with the oracle
    entropy = -F.aggregate(
        F.col("counts"),
        F.lit(0.0),
        lambda acc, c: acc + p(c) * F.log2(p(c)),
    ) + F.lit(0.0)
    return staged.select(
        "doc_id",
        F.col("n").alias("n_words"),
        "n_unique",
        F.round(entropy, 4).alias("entropy"),
    ).orderBy("doc_id")


def quality_gate_summary(
    documents: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_entropy: float = 3.5,
) -> DataFrame:
    """End-to-end C4-style keep/drop gate: compose the pipeline's
    per-document signals — exact-duplicate losers, length bounds,
    low-entropy (repetitive/spam) text — into one decision per document
    with a REASON, and roll the decisions up per source.  This is the
    accounting a corpus-curation run ships: how much each source lost,
    and to which filter.

    Reason precedence mirrors real pipelines (cheapest-first ordering
    is an execution detail; the REPORTED reason is the most damning):
    exact_dup > length > low_entropy > kept.  The duplicate-keeper
    aggregate is the map-side-combining groupBy(min) shape (identical
    texts collapse before the wire); every other signal is row-local."""
    ent = word_entropy(documents).select("doc_id", "n_words", "entropy")
    keepers = documents.groupBy("text").agg(F.min("doc_id").alias("keeper_id"))
    reason = (
        F.when(F.col("doc_id") != F.col("keeper_id"), "exact_dup")
        .when(
            (F.col("n_words") < min_words) | (F.col("n_words") > max_words),
            "length",
        )
        .when(F.col("entropy") < min_entropy, "low_entropy")
        .otherwise("kept")
    )
    flag = lambda r: F.sum(  # noqa: E731
        F.when(F.col("reason") == r, 1).otherwise(0)
    )
    return (
        documents.select("doc_id", "source", "text")
        .join(keepers, "text")
        .join(ent, "doc_id")
        .select("source", reason.alias("reason"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            flag("kept").alias("n_kept"),
            flag("exact_dup").alias("n_exact_dup"),
            flag("length").alias("n_length"),
            flag("low_entropy").alias("n_low_entropy"),
        )
        .orderBy("source")
    )


def bpe_train_merges(documents: DataFrame, n_merges: int = 8) -> DataFrame:
    """Distributed BPE tokenizer TRAINING: learn the top-``n_merges``
    byte-pair merges from the corpus, exactly the greedy algorithm
    (Sennrich et al. 2016) every real tokenizer pipeline runs before
    training starts.

    Scale shape: the corpus-sized work happens ONCE (explode words →
    word-frequency vocabulary, one shuffle); every merge round then
    runs on the VOCABULARY (Zipf: ≪ corpus — ~100M rows even at
    100 TB), so a round is one small groupBy job plus a 1-row driver
    fetch for the winning pair (the same bounded-scalar pattern as the
    k-means centroid loop).  The vocabulary frame is persisted once
    and reused across all rounds.

    Segmentations are encoded as DOUBLE-space-joined symbol strings
    with double-space sentinels (``'  a  b  '``): applying a merge is
    then a literal ``replace(seg, ' A  B ', ' AB ')`` — the pattern's
    single-space flanks leave each neighbour's separator intact, so
    one left-to-right replace-all IS greedy non-overlapping BPE merge
    application, with identical semantics in Spark and DuckDB (the
    oracle unrolls the same stages in SQL; no regex, no lookarounds —
    RE2 engines lack them).

    Ties break deterministically: highest pair count, then
    lexicographic (left, right) — pinned by min over
    struct(-count, left, right).

    Output: one row per learned merge (rank, pair_left, pair_right,
    merged, pair_count)."""
    spark = documents.sparkSession
    # The persisted BASE frame keeps its own name: the loop rebinds
    # `vocab` to derived (non-persisted) frames, so `finally:
    # vocab.unpersist()` would be a cache-manager no-op and the base
    # vocabulary would pin executor memory for the rest of the session
    # (round-8 advice).
    base = (
        documents.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
        .select(
            "wc",
            F.concat(
                F.lit("  "),
                F.array_join(F.split("word", ""), "  "),
                F.lit("  "),
            ).alias("seg"),
        )
        .persist()
    )
    vocab = base
    try:
        merges = []
        for rank in range(1, n_merges + 1):
            toks = F.filter(F.split("seg", "  "), lambda x: x != "")
            # sequence(0, n-1) is always ascending (n ≥ 1); dropping the
            # 0 yields [1, n-1] and an EMPTY list for single-symbol
            # words — sequence(1, n-1) would DESCEND [1, 0] when n = 1
            # and element_at(toks, 2) would throw under ANSI
            idxs = F.filter(
                F.sequence(F.lit(0), F.size(toks) - 1), lambda i: i >= 1
            )
            pairs = vocab.select(
                "wc",
                F.explode(
                    F.transform(
                        idxs,
                        lambda i: F.struct(
                            F.element_at(toks, i).alias("l"),
                            F.element_at(toks, i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            win = (
                pairs.groupBy("p.l", "p.r")
                .agg(F.sum("wc").alias("cnt"))
                .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), "l", "r")).alias("w"))
                .select("w.l", "w.r", (-F.col("w.neg")).alias("cnt"))
                .first()
            )
            if win is None or win.l is None:
                break  # vocabulary exhausted (every word one symbol)
            merges.append((rank, win.l, win.r, win.l + win.r, int(win.cnt)))
            vocab = vocab.select(
                "wc",
                F.replace(
                    "seg",
                    F.lit(f" {win.l}  {win.r} "),
                    F.lit(f" {win.l}{win.r} "),
                ).alias("seg"),
            )
        return spark.createDataFrame(
            merges,
            "rank int, pair_left string, pair_right string, "
            "merged string, pair_count long",
        ).orderBy("rank")
    finally:
        base.unpersist()


# Merges applied per projection stage in the encode chain: 16 nested
# literal replaces keep each stage's expression tree small, and stages
# are separated by iter_checkpoint so a 32k-merge production table is
# 2k bounded projections over the VOCABULARY (not the corpus), never
# one enormous expression (round-8 verdict item 2).
BPE_ENCODE_CHUNK = 16


def bpe_encode_token_counts(
    documents: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    n_merges: int = 8,
    chunk: int = BPE_ENCODE_CHUNK,
) -> DataFrame:
    """Apply learned BPE merges corpus-wide and report the token
    accounting per source — the other half of the tokenizer story
    (``bpe_train_merges`` learns; this encodes).  Trains first when no
    merge list is passed.

    Scale shape — VOCABULARY encode, not per-occurrence encode:

    1. one corpus scan partial-aggregates word occurrences to
       (source, word, count) rows — map-side combine collapses the
       Zipf head before the wire, exactly like the training pass;
    2. the DISTINCT word vocabulary is encoded ONCE: each word becomes
       its double-space segmentation string and the merge ranks apply
       as a chain of literal replaces (greedy left-to-right — merge
       application semantics identical to training), ``chunk`` merges
       per projection with an ``iter_checkpoint`` lineage cut between
       chunks, so a production-size merge table (32k ranks) is many
       SMALL projections over the vocabulary instead of one enormous
       expression over every word occurrence;
    3. per-word token counts join back on the unique ``word`` key and
       weight by occurrence count — Zipf does the rest: a 100 TB
       corpus has a ~100M-row vocabulary, so the encode work is ~1e-6
       of the naive per-occurrence cost, and the join probe side is
       the already-aggregated (source, word) frame, never raw text.

    A word occurring once per source costs the same as before; a word
    occurring 10^9 times (stopwords at corpus scale) is encoded once."""
    if merges is None:
        merges = [
            (r.pair_left, r.pair_right)
            for r in bpe_train_merges(documents, n_merges=n_merges).collect()
        ]
    if chunk < 1:
        raise ValueError("bpe_encode_token_counts: chunk must be >= 1")

    occurrences = documents.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    word_counts = occurrences.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("wcnt")
    )

    vocab = word_counts.select("word").distinct().select(
        "word",
        F.concat(
            F.lit("  "), F.array_join(F.split("word", ""), "  "), F.lit("  ")
        ).alias("seg"),
    )
    applied = 0
    while applied < len(merges):
        seg = F.col("seg")
        for left, right in merges[applied : applied + chunk]:
            seg = F.replace(
                seg, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
            )
        vocab = vocab.select("word", seg.alias("seg"))
        applied = min(applied + chunk, len(merges))
        if applied < len(merges):
            # lineage cut between chunks: the vocabulary is small
            # relative to the corpus, and without the cut a long merge
            # table nests thousands of projections into one plan
            vocab = scale.iter_checkpoint(vocab)
    word_tokens = vocab.select(
        "word",
        F.size(F.filter(F.split("seg", "  "), lambda x: x != "")).alias(
            "w_tokens"
        ),
    )

    per_source = (
        word_counts.join(word_tokens, "word")
        .groupBy("source")
        .agg(
            F.sum("wcnt").alias("ws_tokens"),
            F.sum(F.col("wcnt") * F.col("w_tokens")).alias("bpe_tokens"),
        )
    )
    # n_docs counts EVERY document (empty-text docs contribute zero
    # tokens but still count), so it comes off the document frame
    return (
        documents.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(per_source, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("ws_tokens", F.lit(0)).cast("long").alias("ws_tokens"),
            F.coalesce("bpe_tokens", F.lit(0)).cast("long").alias("bpe_tokens"),
        )
        .orderBy("source")
    )


# Fixed query for the BM25 registry entry — terms present in the driver
# corpus so the ranked result is non-trivial at every SF.
BM25_QUERY_TERMS = ["spark", "window", "join", "stream"]


def bm25_search(
    documents: DataFrame,
    query_terms: list[str] | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
) -> DataFrame:
    """Term-based ranked retrieval: BM25 score of every document against
    a small query-term set, top-N by score.  The lexical complement of
    the embedding kNN family (`similarity.py`) — together they cover both
    halves of a hybrid search stack.

    Plan shape: because the query is a SMALL LITERAL term set, per-term
    term frequencies are computed ROW-LOCALLY (one `size(filter(words))`
    per term — codegen'd, no explode, no per-term shuffle).  Corpus
    statistics (N, avgdl, per-term document frequencies) come from ONE
    single-row aggregate that broadcasts back over the scoring scan, and
    the top-N is a TakeOrdered, not a global sort.  Two scans of the
    corpus total, zero wide shuffles — at 100 TB the stats pass would be
    computed once and reused across queries, which this shape makes
    trivial (pass the stats row in as a literal).

    BM25 idf is the Robertson-Sparck Jones form with the +1 shift
    (always positive): ln((N - df + 0.5)/(df + 0.5) + 1).
    """
    terms = list(query_terms if query_terms is not None else BM25_QUERY_TERMS)
    w = words(normalized(F.col("text")))
    def _tf(term: str) -> Column:
        # NB: a 2-arg lambda would be called as (element, index) by
        # F.filter — bind the term via closure, not a default arg.
        return F.size(F.filter(w, lambda t: t == F.lit(term)))

    tf_cols = [_tf(term).alias(f"tf_{i}") for i, term in enumerate(terms)]
    per_doc = documents.select("doc_id", F.size(w).alias("dl"), *tf_cols)
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    # Expression association mirrors the SQL oracle exactly so both
    # engines produce bit-identical doubles before the round(4).
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df_d = F.col(f"df_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - df_d + F.lit(0.5))
            / (df_d + F.lit(0.5))
            + F.lit(1.0)
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
        )
        contrib = idf * (tf * (F.lit(k1) + F.lit(1.0))) / denom
        score = contrib if score is None else score + contrib
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 4).alias("bm25_score"))
        .where(F.col("bm25_score") > 0)
        .orderBy(F.col("bm25_score").desc(), "doc_id")
        .limit(top_n)
    )


LM_SENTINEL = "<s>"  # cannot collide: normalized text is [a-z0-9 ] only


def lm_perplexity(documents: DataFrame, k_smooth: float = 0.5) -> DataFrame:
    """Per-document perplexity under an add-k-smoothed bigram language
    model trained on the corpus itself — the CCNet/FineWeb-style LM
    quality signal (documents whose token stream surprises the corpus
    LM are boilerplate, gibberish, or off-distribution).

    Model: every token stream is prefixed with the sentence-start
    sentinel ``<s>`` and EVERY real token scores through the one bigram
    rule P(w|prev) = (B(prev,w)+k) / (U(prev)+k·V), where U counts the
    sentinel-prefixed stream (so U(<s>) = |docs|) and V is the vocab
    size including the sentinel.  All counts are exact corpus counts
    and k, numerators, denominators are exactly representable doubles,
    so the oracle reproduces every quotient bit-for-bit; only log/exp
    libm variance (≤1 ulp/token) separates the engines — absorbed by
    the output rounding.

    Plan shape (the sentinel unifies first-token scoring into the
    bigram path — no separate unigram join, no union): bigrams come
    from the index-explode pattern (row-local, no window shuffle —
    same as ``word_pair_counts``); U and B are two map-side-combining
    groupBys; scoring is ONE shuffle join of the doc pair stream
    against the U-enriched bigram table; V rides a broadcast
    single-row frame.  7 hash exchanges total — at the registry's
    blanket ceiling, each one irreducible (two count tables, their
    key-alignment join, the scoring join, the per-doc collapse).
    """
    k = float(k_smooth)
    if not k > 0.0:
        raise ValueError("lm_perplexity: k_smooth must be positive")
    w = F.concat(
        F.array(F.lit(LM_SENTINEL)), words(normalized(F.col("text")))
    )
    docs = documents.select("doc_id", w.alias("w"))

    # corpus unigram counts over the sentinel-prefixed stream
    uni = (
        docs.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__u"))
    )
    vocab = F.broadcast(uni.agg(F.count(F.lit(1)).cast("double").alias("__v")))

    # doc-tagged bigram stream (row-local index explode; |w| >= 2 always
    # because of the sentinel)
    pairs = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("w") - 2)).alias("i"),
        "w",
    ).select(
        "doc_id",
        F.get("w", F.col("i")).alias("prev"),
        F.get("w", F.col("i") + 1).alias("tok"),
    )
    bi = (
        pairs.groupBy("prev", "tok")
        .agg(F.count(F.lit(1)).alias("__b"))
        .join(
            uni.select(F.col("tok").alias("prev"), F.col("__u").alias("__up")),
            "prev",
        )
    )
    per_doc = (
        pairs.join(bi, ["prev", "tok"])
        .crossJoin(vocab)
        .select(
            "doc_id",
            (
                -F.log(
                    (F.col("__b") + k) / (F.col("__up") + k * F.col("__v"))
                )
            ).alias("__nll"),
        )
        .groupBy("doc_id")
        .agg(F.sum("__nll").alias("__s"), F.count(F.lit(1)).alias("n_tokens"))
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("__s") / F.col("n_tokens"), 4).alias("avg_nll"),
        F.round(F.exp(F.col("__s") / F.col("n_tokens")), 2).alias("perplexity"),
    )


def source_drift_chisq(
    documents: DataFrame, min_count: int = 20, threshold: int = 20
) -> DataFrame:
    """Per-word chi-square vocabulary drift between two corpus halves
    (`text_source_drift`) — the distribution-shift monitor a training
    pipeline runs when a new crawl lands: which words' rates moved
    enough between the reference corpus and the new batch to flag?

    The halves are the short source names (``length(source) == 4``,
    src0-src9) vs the rest — a stand-in for old-crawl/new-crawl.  For
    each word with total count ≥ ``min_count``, the 2×2 contingency
    chi-square (word-present vs absent × corpus) is

        X² = N·(o1·n2 − o2·n1)² / ((o1+o2)·(N−o1−o2)·n1·n2)

    DRIFT SELECTION IS INTEGER-EXACT: the predicate X² > threshold is
    cross-multiplied into pure integer arithmetic carried as
    decimal(38,0) (HUGEINT on the oracle side) — the reported double
    X² is one exact-integer-to-double division rounded at the edge,
    never part of the decision.  Magnitudes: N·diff² stays < 1e34 for
    corpora to ~5e7 tokens with 1e5-count words — inside both engines'
    38-digit integer range.

    Scale: one map-side-combining word-count shuffle; the 1-row totals
    frame broadcasts back over the |vocab| counts."""
    from parcial_bigdata_spark.functions.money import ratio_round

    toks = documents.select(
        (F.length("source") == 4).cast("int").alias("__a"),
        F.explode(words("text")).alias("word"),
    ).where(F.col("word") != "")
    counts = toks.groupBy("word").agg(
        F.sum("__a").alias("o1"),
        F.sum(1 - F.col("__a")).alias("o2"),
    )
    totals = counts.agg(
        F.sum("o1").alias("n1"), F.sum("o2").alias("n2")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    o1, o2, n1, n2 = dec("o1"), dec("o2"), dec("n1"), dec("n2")
    big_n = n1 + n2
    diff = o1 * n2 - o2 * n1
    num = big_n * diff * diff
    den = (o1 + o2) * (big_n - o1 - o2) * n1 * n2
    return (
        counts.crossJoin(F.broadcast(totals))
        .where((F.col("o1") + F.col("o2")) >= min_count)
        .select(
            "word",
            F.col("o1").alias("n_ref"),
            F.col("o2").alias("n_other"),
            ratio_round(
                num.cast("double") / den.cast("double"), 6
            ).alias("chisq"),
            (num > F.lit(threshold) * den).cast("int").alias("drifted"),
        )
        .orderBy("word")
    )


def heavy_hitters(documents: DataFrame, min_count: int = 500) -> DataFrame:
    """EXACT corpus-wide heavy hitters (`text_heavy_hitters`): every
    word with total count ≥ ``min_count``, via the two-pass candidate
    prune — the distributed frequent-items protocol for vocabularies
    too large to shuffle whole.

    Pass 1 (Arrow-vectorized ``mapInPandas``, pandas ``value_counts``
    per batch): a batch of b rows emits words with local count ≥
    min_count·b/N.  WEIGHTED PIGEONHOLE makes the prune LOSSLESS for
    ANY batching: if Σ_b count_b ≥ min_count with all count_b <
    min_count·b_rows/N, then min_count ≤ Σ count_b < min_count·Σb/N =
    min_count — contradiction; so every true heavy hitter survives
    pass 1 regardless of how Arrow slices the stream.  Pass 2 exactly
    recounts ONLY the candidates (broadcast semi-join), so the shuffle
    and reduce-side state are bounded by the candidate set, not the
    vocabulary.  The candidate SET varies with batching; the OUTPUT is
    a pure function of the corpus (exact recount + exact threshold).

    Scale note, stated honestly: Spark's hash aggregate already does
    map-side partial counting with spill, so a plain groupBy survives
    big vocabularies too — what the prune buys at 100 TB is the wire
    (shuffle rows ≈ |candidates| · partitions, not |vocab| ·
    partitions) and bounded reducer hash state.  The prune DEGENERATES
    once N > min_count · arrow_batch: the per-batch bound
    min_count·b/N drops below 1, pass 1 emits every word, and the
    broadcast would materialize the whole vocabulary on the driver
    (round-11 advice) — so past that point this falls back to the
    plain hash aggregate, logged per the no-silent-caps rule.  Either
    path is recorded in the posture log with the token count.  The
    1-row corpus total is a bounded-scalar collect by contract."""
    import pandas as pd

    toks = documents.select(F.explode(words("text")).alias("word")).where(
        F.col("word") != ""
    )
    n_total = toks.count()  # bounded scalar: one long
    if n_total == 0:
        return toks.groupBy("word").agg(
            F.count(F.lit(1)).alias("n_occurrences")
        )

    arrow_batch = int(
        documents.sparkSession.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
        )
        or 10000
    )
    fallback = n_total > min_count * arrow_batch
    scale.record_posture("heavy_hitters", "hash_aggregate" if fallback else "two_pass", n_total)
    if fallback:
        import logging

        logging.getLogger(__name__).warning(
            "heavy_hitters: corpus of %d tokens exceeds min_count(%d) x "
            "arrow_batch(%d) — the pass-1 prune threshold is < 1 token/"
            "batch, so the candidate set would be the whole vocabulary; "
            "using the plain hash aggregate instead",
            n_total, min_count, arrow_batch,
        )
        return (
            toks.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .where(F.col("n_occurrences") >= min_count)
            .orderBy("word")
        )

    def _candidates(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vc = pdf["word"].value_counts()
            # EXACT rational bound count_b >= min_count*b/N, compared as
            # integers (count_b*N >= min_count*b) — the float form
            # `frac*b` can round UP past the true bound (observed:
            # 5/147*147 = 5.000000000000001) and prune a boundary word,
            # voiding the pigeonhole guarantee
            keep = vc[vc * n_total >= min_count * len(pdf)]
            yield pd.DataFrame({"word": keep.index})

    cands = toks.mapInPandas(_candidates, "word string").distinct()
    return (
        toks.join(F.broadcast(cands), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
        .orderBy("word")
    )


def length_ks_drift(documents: DataFrame) -> DataFrame:
    """Kolmogorov–Smirnov drift of the DOCUMENT-LENGTH distribution
    between the corpus halves (`text_length_ks_drift`) — the companion
    of the chi-square WORD drift: a new crawl whose documents got
    systematically shorter shifts the length CDF long before any
    single word flags.

    EXACT KS: with n_a/n_b corpus sizes and cum_a/cum_b the cumulative
    counts at each observed length, D = max |cum_a/n_a − cum_b/n_b| is
    ranked by the INTEGER |cum_a·n_b − cum_b·n_a| (the common n_a·n_b
    denominator is constant) — so the argmax length and the decision
    are bit-deterministic; the reported D is one exact-integer
    division at the edge.  Ties on the KS value break on the smaller
    length.

    Scale: one (length, half) count groupBy; the cumulative window
    runs over the |distinct lengths|-row aggregate (the documented
    post-aggregation unkeyed-window pattern)."""
    from pyspark.sql.window import Window

    half = (F.length("source") == 4).cast("int")
    counts = documents.select(
        F.col("n_chars").alias("len"), half.alias("__a")
    ).groupBy("len").agg(
        F.sum("__a").alias("ca"),
        F.sum(1 - F.col("__a")).alias("cb"),
    )
    w = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("len").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        "len",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wt).alias("n_a"),
        F.sum("cb").over(wt).alias("n_b"),
    )
    gap = F.abs(
        F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
        - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
    )
    ranked = cum.select(
        "len", "n_a", "n_b", gap.alias("__gap")
    ).orderBy(F.col("__gap").desc(), F.col("len").asc()).limit(1)
    return ranked.select(
        F.col("len").alias("ks_at_length"),
        "n_a",
        "n_b",
        (
            F.col("__gap").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("ks_statistic"),
    )


def vocab_growth_curve(documents: DataFrame, n_slices: int = 10) -> DataFrame:
    """Heaps'-law vocabulary growth curve (`text_vocab_growth`): distinct
    vocabulary size as a function of corpus size, sampled at
    ``n_slices`` deciles of a DETERMINISTIC md5 document ordering — the
    corpus-health diagnostic that says whether more crawl keeps buying
    new vocabulary (healthy sublinear growth) or the corpus has
    degenerated into repetition (flat curve).

    Exact and engine-portable: the document line is the md5 rank (the
    sampling-family convention, via the skew-proof ``distributed_rank``);
    a word's first appearance at doc rank m lands it in slice
    ceil(S·m/n) — pure integer arithmetic, evaluated as a decimal(38,0)
    integral `div` (round-11 advice: the earlier floor(long/long) form
    went through a double and was exact only below 2^53 ≈ 9e15 — the
    DuckDB oracle's `//` is exact at any cardinality, so the Spark side
    must be too) — so new-word counts per slice and their running sum
    are exact; token counts follow the same slice rule.  One min-rank
    aggregate per word (map-side combining), one |slices|-row
    cumulative window."""
    from pyspark.sql.window import Window

    hashed = documents.select(
        "doc_id",
        "text",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("__h"),
    )
    ranked = scale.distributed_rank(hashed, "__h", "doc_id", out_col="__r")
    n_docs = ranked.agg(F.count(F.lit(1)).alias("__n"))
    with_slice = (
        ranked.crossJoin(F.broadcast(n_docs))
        .select(
            "text",
            "__n",
            (
                F.lit(n_slices).cast("decimal(38,0)") * F.col("__r")
                + F.col("__n")
                - 1
            ).alias("__num"),
        )
        # integral division (IntegralDivide) on decimal(38,0): exact at
        # any cardinality, unlike floor(double-division)
        .select("text", F.expr("CAST((__num div __n) AS INT)").alias("slice"))
    )
    words_first = (
        with_slice.select("slice", F.explode(words("text")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.min("slice").alias("first_slice"))
        .groupBy("first_slice")
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    tokens = with_slice.select(
        "slice",
        F.size(F.filter(words("text"), lambda w: w != "")).alias("__t"),
    ).groupBy("slice").agg(F.sum("__t").alias("slice_tokens"))
    w = Window.orderBy("slice").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tokens.join(
            words_first.withColumnRenamed("first_slice", "slice"),
            "slice",
            "left",
        )
        .select(
            "slice",
            "slice_tokens",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        )
        .withColumn("cum_tokens", F.sum("slice_tokens").over(w))
        .withColumn("cum_vocab", F.sum("new_words").over(w))
        .orderBy("slice")
    )


def readability_scores(documents: DataFrame) -> DataFrame:
    """Flesch reading-ease / Flesch-Kincaid grade per language
    (`text_readability`) — the classic prose-difficulty readout a
    training-data curator bins corpora by (Flesch 1948; Kincaid 1975).

    Syllables are the standard regex estimate: one syllable per vowel
    GROUP (`[aeiouy]+`) in the normalized text, plus one for each
    vowel-less word (every word contributes ≥1).  Sentences count
    terminal-punctuation runs in the RAW text, clamped to ≥1 per doc.

    Exactness: words / sentences / syllables are integer counts;
    per-language totals are integer sums, and both scores are ONE
    fixed IEEE sequence over those totals (the corpus-level form —
    averaging per-doc double scores would be partial-sum-order
    dependent), rounded via ratio_round(6).

    Scale: all three counts are row-local string expressions inside
    whole-stage codegen; the only shuffle is the |langs|-row final
    aggregate."""
    from parcial_bigdata_spark.functions.money import ratio_round

    norm = normalized(F.col("text"))
    n_words = F.size(words(norm))
    n_sent = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    n_syl = F.regexp_count(norm, F.lit(r"[aeiouy]+")) + F.size(
        F.filter(words(norm), lambda w: ~w.rlike("[aeiouy]"))
    )
    sums = (
        documents.select(
            "lang",
            n_words.alias("w"),
            n_sent.alias("s"),
            n_syl.alias("y"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("n_words"),
            F.sum("s").alias("n_sentences"),
            F.sum("y").alias("n_syllables"),
        )
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast(
        "double"
    )
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast(
        "double"
    )
    return sums.select(
        "lang",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        ratio_round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch_ease"),
        ratio_round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    ).orderBy("lang")


def boilerplate_ngrams(
    documents: DataFrame, n: int = 5, min_docs: int = 2, top_k: int = 20
) -> DataFrame:
    """Cross-document boilerplate n-gram census
    (`text_boilerplate_ngrams`): word ``n``-grams appearing in at least
    ``min_docs`` DISTINCT documents, ranked by document frequency — the
    diagnostic behind C4-style boilerplate stripping (Raffel 2020 §2.2
    removed lines repeated across the crawl; with newline-free corpora
    the shingle is the unit).  The survivors are navigation chrome,
    legal footers, and template text a curator strips before training.

    Dedup-per-doc FIRST (array_distinct on the row-local gram array),
    so the groupBy count IS the distinct-doc frequency — no
    countDistinct expand against the exploded stream.  Ranking is
    (doc_freq DESC, gram ASC): fully deterministic.

    Scale: the gram stream is the only high-cardinality shuffle
    (map-side combined); TakeOrdered keeps the top-k selection
    driver-bounded at k, and the share denominator rides a broadcast
    single-row count."""
    from parcial_bigdata_spark.functions.money import ratio_round

    ws = words(normalized(F.col("text")))
    staged = documents.select("doc_id", ws.alias("ws")).select(
        "doc_id", "ws", F.size("ws").alias("nw")
    )
    # sequence(1, nw-n+1) would COUNT DOWN when nw < n (Spark infers
    # step -1); guard short docs to an empty gram array explicitly
    grams = F.when(
        F.col("nw") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.col("nw") - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(F.col("ws"), i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    freq = (
        staged.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") >= min_docs)
        .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
        .limit(top_k)
    )
    total = documents.select(F.count(F.lit(1)).alias("n_docs"))
    return freq.crossJoin(F.broadcast(total)).select(
        "gram",
        "doc_freq",
        ratio_round(
            F.col("doc_freq").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("doc_share"),
    ).orderBy(F.col("doc_freq").desc(), F.col("gram").asc())


def js_divergence_by_source(documents: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the corpus distribution (`text_js_divergence`) — the standard
    bounded drift metric ([0, 1] in log2) a curation pipeline tracks
    per crawl slice; a source whose JSD jumps got a template change or
    an injection (Lin 1991).

    JSD(P‖Q) = ½·Σ p·log2(p/m) + ½·Σ q·log2(q/m), m = (p+q)/2, with P
    the source and Q the corpus distribution.  Words ABSENT from the
    source contribute exactly ½·q·log2(2) = ½·q, so the out-of-source
    tail collapses to ½·(1 − Σ_{w∈S} q_w) — no anti-join against the
    vocabulary is needed.

    Scale: one (source, word) count aggregate over the exploded stream
    (map-side combined); the corpus and source totals are WINDOW sums
    over that same |sources|·|vocab| frame (partition sizes are
    bounded by |sources| and |vocab of one source| — never fact-sized;
    no broadcast of the web-scale vocabulary, no re-aggregation of the
    exploded stream), and the 1-row corpus total is a broadcast cross.
    Like the sibling zipf/entropy fits, the per-word double terms are
    group-summed and rounded at the output edge (4 dp)."""
    w = documents.select(
        "source",
        F.explode(F.split(normalized(F.col("text")), " ")).alias("word"),
    ).where(F.col("word") != "")
    sc = w.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    enriched = sc.select(
        "source",
        "word",
        "c",
        F.sum("c").over(Window.partitionBy("word")).alias("cc"),
        F.sum("c").over(Window.partitionBy("source")).alias("st"),
    )
    corpus_tot = sc.groupBy().agg(F.sum("c").alias("ct"))
    joined = enriched.crossJoin(F.broadcast(corpus_tot))
    p = F.col("c").cast("double") / F.col("st").cast("double")
    q = F.col("cc").cast("double") / F.col("ct").cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * p * F.log2(p / m) + F.lit(0.5) * q * F.log2(q / m)
    per = joined.groupBy("source").agg(
        F.max("st").alias("n_words"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(term).alias("in_mass"),
        F.sum(q).alias("q_cov"),
    )
    jsd = F.col("in_mass") + F.lit(0.5) * (F.lit(1.0) - F.col("q_cov"))
    return per.select(
        "source",
        F.col("n_words").cast("long").alias("n_words"),
        "vocab",
        F.round(jsd, 4).alias("jsd"),
    ).orderBy("source")


def bigram_conditional_entropy(documents: DataFrame) -> DataFrame:
    """Corpus-level bigram conditional entropy per language
    (`text_bigram_entropy`): H(w₂|w₁) = H(bigrams) − H(unigrams) — the
    predictability-of-the-next-word diagnostic (Shannon 1951).  Low
    conditional entropy flags templated/boilerplate-heavy slices that
    per-document entropy (`text_word_entropy`) misses because each doc
    looks individually normal; the gap H(w₂|w₁) vs H(w₁) is the
    repetition signal.

    Within-document bigrams only (no cross-doc splice).  Counts are
    exact integers; each entropy is the standard Σ c·log2(c) group sum
    rounded at the edge (4 dp — the zipf/entropy posture for double
    term sums).

    Scale: ONE exploded bigram stream with map-side combining is the
    only fact-sized shuffle; the unigram line re-aggregates the
    (lang, w₁)-grain count frame, never the corpus."""
    ws = documents.select(
        "lang", F.split(normalized(F.col("text")), " ").alias("ws")
    ).select("lang", "ws", F.size("ws").alias("nw"))
    bigrams = F.when(
        F.col("nw") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.col("nw") - 1),
            lambda i: F.struct(
                F.element_at(F.col("ws"), i).alias("w1"),
                F.element_at(F.col("ws"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bc = (
        ws.select("lang", F.explode(bigrams).alias("b"))
        .where((F.col("b.w1") != "") & (F.col("b.w2") != ""))
        .groupBy("lang", "b.w1", "b.w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # unigram line = the first-word marginal of the SAME bigram stream
    # (so H2 - H1 is the exact chain rule on one distribution)
    uc = bc.groupBy("lang", "w1").agg(F.sum("c").alias("c"))

    def _entropy(counts: DataFrame, n_col: str) -> DataFrame:
        tot = counts.groupBy("lang").agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias(n_col),
            F.sum(
                F.col("c").cast("double") * F.log2(F.col("c").cast("double"))
            ).alias("clogc"),
        )
        h = F.log2(F.col("n").cast("double")) - F.col("clogc") / F.col(
            "n"
        ).cast("double")
        return tot.select("lang", n_col, h.alias(f"__h_{n_col}"))

    h2 = _entropy(bc, "n_bigrams")
    h1 = _entropy(uc, "n_contexts")
    return (
        h2.join(h1, "lang")
        .select(
            "lang",
            "n_bigrams",
            "n_contexts",
            F.round(F.col("__h_n_contexts"), 4).alias("unigram_entropy"),
            F.round(F.col("__h_n_bigrams"), 4).alias("bigram_entropy"),
            F.round(
                F.col("__h_n_bigrams") - F.col("__h_n_contexts"), 4
            ).alias("conditional_entropy"),
        )
        .orderBy("lang")
    )


def hapax_stats(documents: DataFrame) -> DataFrame:
    """Corpus lexical-richness summary (`text_hapax_stats`): hapax
    legomena count (words occurring exactly once), vocabulary size,
    type-token ratio, hapax share, and Herdan's C (log-vocabulary over
    log-tokens — the scale-robust richness constant) — the corpus-level
    health readout a pre-training data curator reads next to
    `text_vocab_growth`'s curve: a crawl slice whose hapax share spikes
    is OCR noise or boilerplate-stripped fragments; one whose TTR
    collapses is template spam.

    Tokenization parity: the engine-wide normalized form (lowercase,
    non-alphanumeric runs → single space, trim) shared with
    `text_vocabulary` / `text_word_pairs`, empty tokens dropped.

    Exactness: every statistic is an integer count or ONE IEEE
    ratio/log over integer counts, rounded via ratio_round(6).

    Scale: explode → one map-side-combining word-grain aggregate (the
    vocabulary frame) → a 1-row global aggregate.  The fact-sized
    shuffle carries (word, partial-count) pairs; nothing downstream
    exceeds |vocabulary|."""
    from parcial_bigdata_spark.functions.money import ratio_round

    tokens = documents.select(
        F.explode(words(normalized(F.col("text")))).alias("word")
    ).where(F.col("word") != "")
    per_word = tokens.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    agg = per_word.agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax_count"),
    )
    n_tok = F.col("n_tokens").cast("double")
    vocab = F.col("vocab_size").cast("double")
    hapax = F.col("hapax_count").cast("double")
    # degenerate corpora — empty (vocab = 0) or a single token
    # (ln N = 0 in Herdan's C) — leave the ratios NULL, not an ANSI
    # DIVIDE_BY_ZERO
    nonempty = F.col("vocab_size") > 0
    return agg.select(
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias(
            "n_tokens"
        ),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.coalesce(F.col("hapax_count"), F.lit(0)).cast("long").alias(
            "hapax_count"
        ),
        F.when(nonempty, ratio_round(hapax / vocab, 6)).alias(
            "hapax_share"
        ),
        F.when(nonempty, ratio_round(vocab / n_tok, 6)).alias(
            "type_token_ratio"
        ),
        F.when(
            F.col("n_tokens") > 1, ratio_round(F.log(vocab) / F.log(n_tok), 6)
        ).alias("herdan_c"),
    )
