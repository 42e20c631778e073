"""Dedup operators on the conftest `documents` fixture: exact dup pair
(1,2), near-dup pair (1,3) at word-set Jaccard 9/11 ≈ 0.818."""

from __future__ import annotations

import pytest

from parcial_bigdata_spark.operators import dedup


def test_exact_duplicates(documents):
    out = dedup.exact_duplicates(documents).collect()
    assert [(r.keep_doc_id, r.n_copies) for r in out] == [(1, 2)]


def test_dedup_exact_survivors(documents):
    out = {r.lang: (r.distinct_docs, r.total_docs)
           for r in dedup.dedup_exact_survivors(documents).collect()}
    assert out == {"en": (3, 4), "es": (1, 1)}


def test_jaccard_pairs_finds_near_dup(documents):
    out = dedup.jaccard_pairs(documents, threshold=0.6).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 3) in got
    assert (1, 3) in got and abs(got[(1, 3)] - round(9 / 11, 4)) < 1e-9
    assert not any(4 in p or 5 in p for p in got)


def test_jaccard_blocking_is_lossless_vs_naive(spark, documents):
    """Length-bucket blocking must not drop pairs the naive quadratic
    same-lang join would find."""
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators.text import normalized

    ws = documents.select(
        "doc_id", "lang", "n_chars",
        F.array_distinct(F.split(normalized(F.col("text")), " ")).alias("wset"),
    )
    a, b = ws.alias("a"), ws.alias("b")
    jac = (
        F.size(F.array_intersect("a.wset", "b.wset")).cast("double")
        / F.size(F.array_union("a.wset", "b.wset"))
    )
    naive = (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where(
            F.abs(F.col("a.n_chars") - F.col("b.n_chars"))
            <= 0.2 * F.greatest(F.col("a.n_chars"), F.col("b.n_chars"))
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= 0.6)
    )
    expected = {(r.doc_a, r.doc_b, r.jaccard) for r in naive.collect()}
    got = {(r.doc_a, r.doc_b, r.jaccard)
           for r in dedup.jaccard_pairs(documents, threshold=0.6).collect()}
    assert got == expected


def test_containment_catches_embedded_doc(spark):
    """Containment's reason to exist: a short doc fully EMBEDDED in a
    long one has containment 1.0 but Jaccard |A|/|B| — structurally
    below any resemblance threshold (and outside the Jaccard query's
    20% length band entirely)."""
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"filler{i}" for i in range(18))
    docs = spark.createDataFrame(
        [
            (1, small, "en", "web", len(small)),
            (2, big, "en", "web", len(big)),
            (3, "one two three four five six", "en", "web", 27),
            (4, "tiny doc", "en", "web", 8),  # below the 5-word floor
            (5, small, "es", "web", len(small)),  # other language
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_pairs(docs).collect()
    }
    assert got == {(1, 2): 1.0}
    jac = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs(docs, threshold=0.6).collect()
    }
    assert (1, 2) not in jac


def test_containment_equal_size_tie_orientation(spark):
    """Equal word-set sizes: doc_a must be the lower doc_id (the
    oracle's tie rule), and both orientations' containments are the
    same number."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "alpha beta gamma delta epsilon zeta eta lambda"
    docs = spark.createDataFrame(
        [(7, t1, "en", "w", len(t1)), (3, t2, "en", "w", len(t2))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dedup.containment_pairs(docs, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b, r.containment) for r in out] == [
        (3, 7, round(7 / 8, 4))
    ]


def test_containment_prefix_blocking_is_lossless_vs_naive(spark):
    """The containment prefix filter (PPJoin's asymmetric form) must
    not drop pairs the naive same-language ordered quadratic join
    finds — exercised on a corpus big enough that prefixes actually
    prune (shared rare tokens, Zipf-head commons on every doc)."""
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators.text import normalized

    rows = []
    commons = "the of and to in is was for on with"
    for i in range(40):
        rare = " ".join(f"tok{i}_{j}" for j in range(6 + i % 5))
        # every third doc embeds the previous doc's rare tokens
        if i % 3 == 2:
            rare += " " + " ".join(f"tok{i-1}_{j}" for j in range(6 + (i - 1) % 5))
        text = commons + " " + rare
        rows.append((i, text, "en" if i % 4 else "es", "w", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    ws = docs.select(
        "doc_id", "lang",
        F.array_distinct(F.split(normalized(F.col("text")), " ")).alias("wset"),
    ).withColumn("wsize", F.size("wset")).where(F.col("wsize") >= 5)
    a, b = ws.alias("a"), ws.alias("b")
    cont = (
        F.size(F.array_intersect("a.wset", "b.wset")).cast("double")
        / F.col("a.wsize")
    )
    naive = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (
                (F.col("a.wsize") < F.col("b.wsize"))
                | ((F.col("a.wsize") == F.col("b.wsize"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(cont, 4).alias("containment"),
        )
        .where(F.col("containment") >= 0.7)
    )
    expected = {(r.doc_a, r.doc_b, r.containment) for r in naive.collect()}
    got = {
        (r.doc_a, r.doc_b, r.containment)
        for r in dedup.containment_pairs(docs, threshold=0.7).collect()
    }
    assert got == expected and expected


def test_default_length_slack_within_blocking_bound():
    """The default length_slack must satisfy the lossless ±1-bucket bound
    (slack ≤ 1 - 1/_BUCKET_BASE, isclose counts).  If _BUCKET_BASE is ever
    tightened, this fails loudly instead of the default call raising."""
    import inspect
    import math

    default = inspect.signature(dedup.jaccard_pairs).parameters["length_slack"].default
    bound = 1 - 1 / dedup._BUCKET_BASE
    assert default <= bound or math.isclose(default, bound)


def test_jaccard_rejects_slack_beyond_bound(documents):
    with pytest.raises(ValueError, match="length_slack"):
        dedup.jaccard_pairs(documents, threshold=0.6, length_slack=0.5)


def test_minhash_finds_exact_and_near_dups(documents):
    out = dedup.minhash_near_duplicates(documents, threshold=0.5).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (1, 2) in pairs  # exact dup always collides on every band
    jacc = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    assert jacc[(1, 2)] == 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_verify_shapes_equivalent(documents):
    """The carried-payload and slim-pairs+rejoin verify forms (r17 size
    gate) must produce the identical pair set with identical jaccards —
    the gate is a pure physical-plan choice."""
    carried = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup._minhash_verify_carried(documents, 0.5, 3).collect()
    }
    rejoin = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup._minhash_verify_rejoin(documents, 0.5, 3).collect()
    }
    assert carried == rejoin and carried


def test_minhash_rejoin_reuses_the_payload_exchange(spark):
    """Without broadcasts, both payload join sides of the rejoin verify
    are one hashpartitioning(doc_id) exchange: the executed final
    adaptive plan holds exactly one ReusedExchange of [doc_id, shingles]."""
    import re

    words = [f"w{i}" for i in range(60)]
    corpus = spark.createDataFrame(
        [(i, " ".join(words[i * 7 % 50:i * 7 % 50 + 10]), "en", "web", 10)
         for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = dedup._minhash_verify_rejoin(corpus, 0.5, 3)
        assert out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("ReusedExchange") == 1
    assert re.search(
        r"ReusedExchange \[doc_id#\d+L, shingles#\d+\], "
        r"Exchange hashpartitioning\(doc_id#\d+L", final
    )


def test_minhash_posture_gate_routes_by_scan_size(documents, monkeypatch):
    """In-memory / unknown-size corpora take the rejoin (at-scale) form;
    provably small local scans take the carried form.  Pin the routing by
    observing which private impl the public wrapper calls."""
    calls = []
    real_carried = dedup._minhash_verify_carried
    real_rejoin = dedup._minhash_verify_rejoin
    monkeypatch.setattr(
        dedup, "_minhash_verify_carried",
        lambda d, t, k: calls.append("carried") or real_carried(d, t, k),
    )
    monkeypatch.setattr(
        dedup, "_minhash_verify_rejoin",
        lambda d, t, k: calls.append("rejoin") or real_rejoin(d, t, k),
    )
    import parcial_bigdata_spark.operators.scale as scale_mod

    def last(branch):
        return {
            r["branch"]: r["last_input"] for r in scale_mod.posture_log()
            if r["op"] == "minhash_near_duplicates"
        }.get(branch, "absent")

    dedup.minhash_near_duplicates(documents, threshold=0.5)
    assert calls == ["rejoin"]  # in-memory frame → assume big → rejoin
    assert last("large") is None

    monkeypatch.setattr(
        scale_mod, "local_scan_bytes", lambda df, files=None: 1024
    )
    dedup.minhash_near_duplicates(documents, threshold=0.5)
    assert calls == ["rejoin", "carried"]  # small local scan → carried
    assert last("small") == 1024


def test_simhash_flags_near_dup_pair(documents):
    out = dedup.simhash_near_duplicates(documents, max_hamming=10).collect()
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in out}
    assert pairs[(1, 2)] == 0  # identical text → identical fingerprint
    assert (1, 3) in pairs  # one-word change → small hamming distance
    assert pairs[(1, 3)] <= 10


def test_simhash_rejects_impossible_radius(documents):
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_duplicates(documents, max_hamming=64)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_duplicates(documents, max_hamming=-1)


def test_simhash_blocking_is_lossless_vs_naive(spark, documents):
    """Adaptive chunk blocking at radius 10 must find every pair the
    naive all-pairs hamming join finds."""
    from pyspark.sql import functions as F

    fp = dedup.simhash(documents)
    a, b = fp.alias("a"), fp.alias("b")
    naive = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .where(F.col("hamming") <= 10)
    )
    expected = {(r.doc_a, r.doc_b, r.hamming) for r in naive.collect()}
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_duplicates(documents, max_hamming=10).collect()
    }
    assert got == expected


def test_embedding_near_duplicates(spark):
    from parcial_bigdata_spark.operators.dedup import embedding_near_duplicates

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "a"),
        (2, [0.999, 0.01, 0.0, 0.0], "a"),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0], "a"),  # orthogonal
        (4, [1.0, 0.0, 0.0, 0.0], "b"),  # same vector, different block
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = embedding_near_duplicates(emb, threshold=0.95)
    got = {(r.vec_a, r.vec_b) for r in out.collect()}
    assert got == {(1, 2)}  # blocked by label: (1,4) never compared


def test_duplicate_components_chain_and_islands(spark):
    """Min-label propagation must follow transitive chains (A-B, B-C in
    one component even when A-C is not a pair) and keep disjoint pairs
    apart; isolated docs (no pairs) are not vertices."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_duplicate_components_long_chain_converges(spark):
    """A 10-vertex path graph needs several propagation rounds; the loop
    must run to convergence, not stop after one round."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    assert out == {i: 0 for i in range(11)}


def test_duplicate_components_contraction_path_matches_tail(spark, monkeypatch):
    """Force the pure contraction loop (tail solver disabled) and the
    tail-only path (threshold above the edge count) on the same graph —
    both must produce the identical min-id labeling.  The graph mixes a
    long path (diameter > 1 contraction level), a clique, and an edge
    whose endpoints' one-hop minima differ (the case pointer-jumping
    alone gets wrong)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)]
        + [(20, 21), (20, 22), (21, 22)]
        + [(1, 30), (2, 40), (30, 40)],
        "doc_a long, doc_b long",
    )
    monkeypatch.setattr(dedup, "_CC_TAIL_EDGES", 0)
    contraction = {
        r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "_CC_TAIL_EDGES", 10**6)
    tail = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    expected = {i: 0 for i in range(9)} | {30: 0, 40: 0} | {20: 20, 21: 20, 22: 20}
    assert contraction == expected
    assert tail == expected


def test_duplicate_components_monotone_chain_star_rounds(spark, monkeypatch):
    """A monotone path (ids increasing along the chain) is the shape
    that degrades one-hop min-label contraction to O(diameter) levels
    (each level just shifts the path by one).  With the tail solver
    disabled, the star alternation must still converge within the
    default round budget — pinning the O(log n) claim on the worst
    shape, not just on dense near-dup clusters."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(3000)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dedup, "_CC_TAIL_EDGES", 0)
    out = dedup.duplicate_components(pairs)
    assert out.count() == 3001
    assert [r.comp for r in out.select("comp").distinct().collect()] == [0]


def test_duplicate_components_self_pairs_and_orientation(spark):
    """Self-pairs label themselves (identity components), vertices with
    both self and real pairs take the real component, and reversed /
    duplicated pair orientation collapses to one canonical edge."""
    pairs = spark.createDataFrame(
        [(5, 5), (2, 1), (1, 2), (2, 3), (9, 9), (9, 8)],
        "doc_a long, doc_b long",
    )
    out = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 8: 8, 9: 8}


def test_duplicate_components_tail_spans_arrow_batches(spark):
    """The tail union-find receives its single partition as an iterator
    of Arrow batches (~10k rows each by default); a 25k-edge path graph
    forces multiple batches whose edges must union across batch
    boundaries into one component."""
    pairs = spark.range(25_000).selectExpr("id as doc_a", "id + 1 as doc_b")
    out = dedup.duplicate_components(pairs)
    assert out.count() == 25_001
    assert [r.comp for r in out.select("comp").distinct().collect()] == [0]


def test_duplicate_components_string_ids_tail(spark):
    """The tail union-find must handle non-numeric doc ids (min = lexical
    min, matching F.min on strings)."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_a string, doc_b string"
    )
    out = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_jaccard_prefix_filter_lossless_large_vocab(spark, monkeypatch):
    """The prefix-filtered array path must stay lossless when the
    vocabulary exceeds PREFIX_COMMONS — i.e. when real rare tokens lead
    the canonical order and drive the candidate blocking.  Compared
    against the naive all-pairs join on a 400-word vocabulary."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(11)
    vocab = [f"tok{i:04d}" for i in range(400)]  # > PREFIX_COMMONS (256)
    docs = []
    base: list[str] = []
    for i in range(30):
        if i % 3 == 0:  # one shared base per trio → planted near-dup clusters
            base = rng.sample(vocab, 30)
        words = list(base)
        for _ in range(i % 3 * 3):  # 0, 3, or 6 word swaps
            words[rng.randrange(len(words))] = vocab[rng.randrange(len(vocab))]
        text = " ".join(words)
        docs.append((i, text, "en", "web", len(text)))
    documents = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(dedup, "MAX_MASK_LANES", 0)  # force the array path

    ws = documents.select(
        "doc_id",
        "lang",
        "n_chars",
        F.array_distinct(F.split(F.trim(F.regexp_replace(F.lower("text"), r"[^a-z0-9]+", " ")), " ")).alias("w"),
    )
    a, b = ws.alias("a"), ws.alias("b")
    jac = F.size(F.array_intersect("a.w", "b.w")).cast("double") / F.size(
        F.array_union("a.w", "b.w")
    )
    naive = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars"))
                <= 0.2 * F.greatest(F.col("a.n_chars"), F.col("b.n_chars"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.6)
    )
    expected = {(r.doc_a, r.doc_b, r.jaccard) for r in naive.collect()}
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.jaccard_pairs(documents, threshold=0.6).collect()
    }
    assert got == expected
    assert expected  # the generator must actually produce near-dup pairs


def test_jaccard_incremental_consistent_with_full_self_join(spark):
    """Incremental dedup must be the full self-join's answer restricted
    to pairs touching the new batch, with batch-internal pairs oriented
    later→earlier: derived here from jaccard_pairs on the union and
    compared exactly (both blocked paths are lossless, so they must
    agree pair-for-pair)."""
    import random

    rng = random.Random(23)
    vocab = [f"tok{i:04d}" for i in range(400)]
    docs = []
    shared: list[str] = []
    # clusters of 6 so each near-dup cluster holds TWO new-batch docs
    # (doc_id % 5 == 0) — batch-internal pairs must be exercised
    for i in range(42):
        if i % 6 == 0:
            shared = rng.sample(vocab, 30)
        words = list(shared)
        for _ in range(i % 6):
            words[rng.randrange(len(words))] = vocab[rng.randrange(len(vocab))]
        text = " ".join(words)
        docs.append((i, text, "en", "web", len(text)))
    documents = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    is_new = lambda d: d % 5 == 0
    base = documents.where("doc_id % 5 != 0")
    new = documents.where("doc_id % 5 = 0")
    full = dedup.jaccard_pairs(documents, threshold=0.6).collect()
    expected = set()
    for r in full:
        a, b = r.doc_a, r.doc_b  # a < b
        if is_new(b):
            expected.add((b, a, is_new(a), r.jaccard))
        elif is_new(a):
            expected.add((a, b, False, r.jaccard))
    got = {
        (r.new_doc, r.dup_of, r.dup_in_batch, r.jaccard)
        for r in dedup.jaccard_pairs_incremental(
            base, new, threshold=0.6
        ).collect()
    }
    assert got == expected
    assert any(t[2] for t in expected)      # batch-internal dups exercised
    assert any(not t[2] for t in expected)  # base dups exercised


def test_embedding_lsh_recall_and_precision(spark):
    """LSH-blocked embedding dedup vs exhaustive ground truth: exact
    verification makes precision 1.0; multi-table OR-construction must
    recover >= 80% of true pairs — including cross-label ones the
    label-blocked variant structurally misses."""
    import random

    from pyspark.sql import functions as F

    from parcial_bigdata_spark.functions.vector import cosine
    from parcial_bigdata_spark.operators.dedup import embedding_near_duplicates_lsh

    rng = random.Random(3)
    rows, vid = [], 0
    for i in range(20):
        base = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((vid, base, "x"))
        vid += 1
        if i % 2 == 0:  # plant a near-dup, in a DIFFERENT label block
            rows.append((vid, [v + rng.gauss(0, 0.02) for v in base], "y"))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")

    s = cosine(F.col("a.embedding"), F.col("b.embedding"))
    truth = {
        (r.vec_a, r.vec_b)
        for r in emb.alias("a")
        .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            s.alias("s"),
        )
        .where(F.col("s") >= 0.95)
        .collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_duplicates_lsh(emb, threshold=0.95).collect()
    }
    assert got <= truth  # exact cosine verification -> precision 1.0
    assert len(truth) >= 10  # the 10 planted pairs are all above 0.95
    assert len(got & truth) / len(truth) >= 0.8


def test_cross_split_contamination_detects_planted_dup(spark):
    rows = [
        (1, "Shared Text!", "en", "train", 12),
        (2, "shared text",  "en", "eval",  11),   # same normalized content
        (3, "only in train", "en", "train", 13),
        (4, "another eval doc", "en", "eval", 16),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = dedup.cross_split_contamination(docs).collect()
    assert len(out) == 1
    assert out[0].n_splits == 2 and out[0].n_docs == 2


def test_jaccard_multilane_bitmask_matches_array_path(spark, monkeypatch):
    """A 65..512-word vocabulary takes the k-lane bitmask path; forcing
    the array path (cap=0) must yield byte-identical pairs."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(120)]  # >64 → multi-lane
    base = vocab[:40]
    docs = []
    for i in range(12):
        words = list(base)
        # progressively perturb so some pairs clear 0.6 and others don't
        for _ in range(i):
            words[rng.randrange(len(words))] = vocab[rng.randrange(len(vocab))]
        text = " ".join(words)
        docs.append((i, text, "en", "web", len(text)))
    documents = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )

    fast = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.jaccard_pairs(documents, threshold=0.6).collect()
    }
    monkeypatch.setattr(dedup, "MAX_MASK_LANES", 0)  # force array path
    slow = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.jaccard_pairs(documents, threshold=0.6).collect()
    }
    assert fast == slow
    assert fast  # the perturbation keeps at least some near-dup pairs


def test_ngram_contamination_partial_overlap(spark, documents):
    """doc 3 (eval) shares its first 9 words with train doc 1: 5 of its
    6 distinct 5-grams hit; unrelated doc 5 scores zero."""
    from pyspark.sql import functions as F

    train = documents.where(F.col("source") == "web")
    evals = documents.where(F.col("source") == "book")
    out = {r.doc_id: r for r in dedup.ngram_contamination(train, evals, n=5).collect()}
    assert set(out) == {3, 5}
    assert (out[3].n_ngrams, out[3].n_contaminated) == (6, 5)
    assert abs(out[3].contaminated_frac - round(5 / 6, 4)) < 1e-9
    assert (out[5].n_contaminated, out[5].contaminated_frac) == (0, 0.0)


def test_ngram_contamination_short_docs_excluded(spark, documents):
    """Eval docs below n words have no n-grams and emit no row."""
    short = spark.createDataFrame(
        [(99, "too short to shingle", "en", "book", 20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dedup.ngram_contamination(documents, short, n=5).collect()
    assert out == []


def test_simhash_arrow_matches_hof_fingerprints(documents):
    """The Arrow fingerprint path must be BIT-identical to the built-in
    HOF ground truth (same contract as knn_cosine_arrow vs brute force)."""
    hof = {r.doc_id: r.simhash for r in dedup.simhash(documents).collect()}
    arw = {r.doc_id: r.simhash for r in dedup.simhash_arrow(documents).collect()}
    assert hof == arw


def test_component_survivors_one_per_cluster(documents):
    """Docs {1,2,3} form one near-dup component; the longest text wins
    (doc 3's 'lambda' makes it one char longer than the 'kappa' base);
    singletons 4 and 5 survive as themselves."""
    out = {r.comp: (r.survivor_doc_id, r.n_members)
           for r in dedup.component_survivors(documents, threshold=0.6).collect()}
    assert set(out) == {1, 4, 5}
    assert out[1] == (3, 3)  # three docs collapsed; longest (doc 3) kept
    assert out[4] == (4, 1) and out[5] == (5, 1)


def test_lsh_bucket_cap_bounds_degenerate_bucket(spark):
    """Skew guard (round-3 verdict item 3): 10,000 identical docs land
    in ONE (band, hash) bucket per band; pair generation must stay
    O(max_bucket²), not O(10^8), and finish in bounded time/memory."""
    import time

    from pyspark.sql import functions as F

    n = 10_000
    text = "the same boilerplate license header appears on every page"
    docs = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(text).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("web").alias("source"),
            F.lit(len(text)).alias("n_chars"),
        )
    )
    t0 = time.time()
    n_pairs = dedup.minhash_candidates(docs).count()
    elapsed = time.time() - t0
    # per band at most C(64, 2) = 2016 pairs; identical signatures mean
    # every band emits the SAME capped doc set, so distinct pairs = 2016
    cap = dedup.MAX_LSH_BUCKET
    assert 0 < n_pairs <= cap * (cap - 1) // 2
    assert elapsed < 60, f"degenerate bucket took {elapsed:.1f}s"


def test_lsh_bucket_cap_prunes_map_side(spark):
    """The bucket cap must compile to WindowGroupLimit (map-side prune
    BEFORE the shuffle) with no extra exchange: the rank window and the
    collect_list groupBy share the block-key partitioning, so a
    degenerate bucket never rides the wire past max_bucket members."""
    import re

    from pyspark.sql import functions as F

    blocked = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("bucket")
    )
    pairs = dedup._bucket_pairs(blocked, ["bucket"], [])
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # correctness: capped pair count per bucket
    cap = dedup.MAX_LSH_BUCKET
    per_bucket = cap * (cap - 1) // 2
    assert pairs.count() == 3 * per_bucket


def test_uncapped_slim_bucket_pairs_selfjoin_path(spark):
    """Uncapped + slim payload takes the self-equi-join path: same pairs
    as the grouped-HOF expansion (proxied by a cap far above every
    bucket), via a hash equi-join on the block keys — never a nested-
    loop join, never a quadratic grouped array."""
    from pyspark.sql import functions as F

    blocked = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("bucket")
    )
    slim = dedup._bucket_pairs(blocked, ["bucket"], [], max_bucket=None)
    hof = dedup._bucket_pairs(blocked, ["bucket"], [], max_bucket=10_000)
    flat = lambda df: {  # noqa: E731
        (r["a"]["doc_id"], r["b"]["doc_id"]) for r in df.collect()
    }
    assert flat(slim) == flat(hof)
    plan = slim._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "Join" in plan


def test_bucket_truncation_stats_reports_dropped_members(spark):
    from pyspark.sql import functions as F

    blocked = spark.range(100).select(
        F.lit(0).alias("band_id"),
        F.lit(7).alias("band_hash"),
        F.col("id").alias("doc_id"),
    )
    [row] = dedup.bucket_truncation_stats(
        blocked, ["band_id", "band_hash"], max_bucket=64
    ).collect()
    assert row.n_buckets == 1
    assert row.n_truncated_buckets == 1
    assert row.max_bucket_size == 100
    assert row.n_members_dropped == 36


def test_ngram_bloom_adaptive_skip_on_small_file_backed_eval(
    spark, documents, tmp_path
):
    """No input kind builds a Bloom prune: for each train x eval pair
    (file-backed or in-memory on each side) the plan is the exact gram
    join (no ``shiftleft``, the Bloom's bit-mask op), the rows are the
    same, and no size gate is recorded in the posture log."""
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.operators import scale

    train_mem = documents.where(F.col("doc_id") <= 3)
    ev_mem = documents.where(F.col("doc_id") > 3)
    tdir, edir = str(tmp_path / "train"), str(tmp_path / "eval")
    train_mem.write.parquet(tdir)
    ev_mem.write.parquet(edir)
    train_f = spark.read.parquet(tdir)
    ev_f = spark.read.parquet(edir)

    key = lambda d: d["doc_id"]  # noqa: E731
    results = []
    for train in (train_f, train_mem):
        for ev in (ev_f, ev_mem):
            out = dedup.ngram_contamination(train, ev, n=3)
            assert "shiftleft" not in out._jdf.queryExecution().toString()
            results.append(sorted((r.asDict() for r in out.collect()), key=key))
    assert results[0]
    assert all(r == results[0] for r in results[1:])
    assert not [
        p for p in scale.posture_log() if p["op"].startswith("ngram_contamination")
    ]


def test_contraction_equals_tail_on_fixture_corpus(spark, monkeypatch):
    """On the real sf0.001 near-dup graph, the pure contraction loop
    (tail disabled) must produce exactly the labels of the tail-only
    union-find — the cross-path equivalence the driver gate cannot see
    (at sf0.01 the whole graph fits the tail threshold, so only the
    tail path is oracle-checked there)."""
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata not present")
    from parcial_bigdata_spark.catalog import load_table

    docs = load_table(spark, sf, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.6).localCheckpoint(eager=True)
    monkeypatch.setattr(dedup, "_CC_TAIL_EDGES", 0)
    contraction = {
        r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "_CC_TAIL_EDGES", 10**9)
    tail = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    assert contraction == tail
    assert len(contraction) > 0


def test_minhash_check_bucket_blocked_truth_is_lossless(spark):
    """The (lang, log-length-bucket) blocking added to the minhash
    audit's truth join must be lossless: its n_truth_pairs equals a
    naive lang-only all-pairs computation of the same predicate set."""
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata not present")
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.catalog import load_table

    docs = load_table(spark, sf, "documents")
    threshold, k, sample_size, length_slack = 0.6, 3, 250, 0.2
    [row] = dedup.minhash_recall_check(
        docs, threshold=threshold, k=k, sample_size=sample_size,
        length_slack=length_slack,
    ).collect()
    samp = docs.join(
        F.broadcast(dedup._hash_topn_sample(docs, "doc_id", sample_size)),
        "doc_id",
    )
    sh = dedup.shingles(samp, k).join(
        samp.select("doc_id", "lang", "n_chars"), "doc_id"
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = (
        F.size(F.array_intersect("a.shingles", "b.shingles")).cast("double")
        / F.size(F.array_union("a.shingles", "b.shingles"))
    )
    naive = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars"))
                <= length_slack * F.greatest("a.n_chars", "b.n_chars")
            ),
        )
        .where(F.round(jac, 4) >= threshold)
        .count()
    )
    assert row.n_truth_pairs == naive
    # the lossless-bound guard trips on an over-wide band
    with _pytest.raises(ValueError, match="length_slack"):
        dedup.minhash_recall_check(docs, length_slack=0.5).collect()


def test_recall_audit_twins_flags_green_and_wired(spark):
    """The round-5 audit twins must (a) report green flags on the
    fixture corpus and (b) actually wire the flag to the measurement —
    an unreachable floor must trip it to 0."""
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata not present")
    from parcial_bigdata_spark.catalog import load_table

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")

    # sample_size=1000 > the 500-doc fixture → sample is the whole corpus
    [mh] = dedup.minhash_recall_check(docs).collect()
    assert (mh.recall_ok, mh.n_sample_docs) == (1, 500)
    assert (mh.n_truth_pairs, mh.truth_sufficient) == (8, 1)
    # constant-SIZE contract: a smaller budget caps the sample exactly
    [mh_small] = dedup.minhash_recall_check(docs, sample_size=100).collect()
    assert mh_small.n_sample_docs == 100

    [sh] = dedup.simhash_recall_check(docs).collect()
    assert (sh.twin_ok, sh.truth_sufficient, sh.recall_ok) == (1, 1, 1)

    [el] = dedup.embedding_lsh_recall_check(emb).collect()
    assert el.recall_ok == 1 and el.n_truth_pairs > 0
    assert el.truth_sufficient == 1

    # floor > 1 with non-zero truth is unreachable -> flag must drop
    [el_bad] = dedup.embedding_lsh_recall_check(emb, recall_floor=1.5).collect()
    assert el_bad.recall_ok == 0

    # statistical-power gate (round-6 advice): a floor above the truth
    # count must flag the audit as under-powered — recall_ok alone no
    # longer certifies anything in that regime
    [mh_weak] = dedup.minhash_recall_check(docs, min_truth_pairs=10**6).collect()
    assert mh_weak.truth_sufficient == 0
    [sh_weak] = dedup.simhash_recall_check(docs, min_truth_pairs=10**6).collect()
    assert sh_weak.truth_sufficient == 0
    [el_weak] = dedup.embedding_lsh_recall_check(
        emb, min_truth_pairs=10**6
    ).collect()
    assert el_weak.truth_sufficient == 0


def test_embedding_lsh_coarse_geometry_needs_uncapped_buckets(spark):
    """Pin the round-5 finding: with the fixture's coarse 2-plane/4-bucket
    geometry the global bucket cap wholesale-truncates the corpus (recall
    collapse), while max_bucket=None restores the OR-construction's
    near-full recall.  Guards against the cap silently re-entering the
    coarse-geometry path."""
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata not present")
    from pyspark.sql import functions as F

    from parcial_bigdata_spark.catalog import load_table
    from parcial_bigdata_spark.functions.vector import cosine

    emb = load_table(spark, sf, "embeddings")
    capped = dedup.embedding_near_duplicates_lsh(
        emb, threshold=0.4, n_planes=2, n_tables=8, max_bucket=64
    ).count()
    uncapped = dedup.embedding_near_duplicates_lsh(
        emb, threshold=0.4, n_planes=2, n_tables=8, max_bucket=None
    ).count()
    truth = (
        emb.alias("a")
        .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .where(
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6)
            >= 0.4
        )
        .count()
    )
    assert uncapped >= 0.9 * truth
    assert capped < uncapped  # the cap measurably bites this geometry


def test_jaccard_pairs_includes_empty_documents(spark):
    """n_chars=0 used to produce a NULL length bucket (log(0)), silently
    excluding empty-text docs from all pairing; they must pair like any
    other doc (two empty docs are Jaccard-1 exact dups — round-5
    review)."""
    docs = spark.createDataFrame(
        [
            (1, "", "en", "web", 0),
            (2, "", "en", "web", 0),
            (3, "totally different words here", "en", "web", 28),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pairs = dedup.jaccard_pairs(docs, threshold=0.8).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}


def test_local_contract_cross_partition_and_cap(spark, monkeypatch):
    """The partition-local contraction pass (round-7 verdict item 5) is
    a pure accelerator: labels must be identical whether a component
    lies inside one partition, spans many, or the per-task vertex cap
    forces most edges to pass through untracked."""
    # one 400-vertex monotone chain scattered over 8 partitions + a
    # clique + self-pair — repartition destroys id locality on purpose
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(400)] + [(900, 901), (901, 902), (950, 950)],
        "doc_a long, doc_b long",
    ).repartition(8)
    expected = {i: 0 for i in range(401)} | {900: 900, 901: 900, 902: 900, 950: 950}
    out = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    assert out == expected
    # cap of 4 tracked vertices per task: nearly everything passes
    # through and the star rounds must finish the job unaided
    monkeypatch.setattr(dedup, "_LOCAL_CONTRACT_MAX_VERTICES", 4)
    capped = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    assert capped == expected


def test_local_contract_output_is_canonical_star_forest(spark):
    """Direct contract-pass contract: star edges oriented (bigger →
    smaller local min), self-pairs forwarded verbatim, tracked vertex
    set preserved (roots appear as dst, non-roots as src)."""
    edges = spark.createDataFrame(
        [(5, 3), (3, 1), (9, 7), (4, 4)], "src long, dst long"
    ).coalesce(1)
    rows = {(r.src, r.dst) for r in dedup._local_contract(edges).collect()}
    assert rows == {(5, 1), (3, 1), (9, 7), (4, 4)}


def test_paragraph_dedup_first_occurrence_wins(spark):
    """Paragraph-level exact dedup: fixed word windows, first corpus
    occurrence (by doc_id, then position) survives, later copies drop,
    text reassembles in position order; a fully-boilerplate document
    comes back as an empty string, and a paragraph repeated INSIDE one
    document keeps only its first position."""
    boiler = "terms of service"
    rows = [
        (1, f"{boiler} alpha beta gamma"),            # paras: boiler, abc
        (2, f"{boiler} delta epsilon zeta"),          # boiler drops
        (3, boiler),                                  # fully boilerplate
        (4, f"unique one two {boiler} unique one two"),  # internal repeat
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.paragraph_dedup(docs, para_words=3).collect()}
    assert (out[1].n_paras, out[1].n_dropped) == (2, 0)
    assert out[1].clean_text == f"{boiler} alpha beta gamma"
    assert (out[2].n_paras, out[2].n_dropped) == (2, 1)
    assert out[2].clean_text == "delta epsilon zeta"
    assert (out[3].n_paras, out[3].n_dropped) == (1, 1)
    assert out[3].clean_text == ""
    # doc 4: paras = [unique one two, <boiler>, unique one two]
    # (3-word windows) — the 3rd window repeats the 1st inside the doc
    assert (out[4].n_paras, out[4].n_dropped) == (3, 2)
    assert out[4].clean_text == "unique one two"


def test_local_contract_observability_counters(spark):
    """duplicate_components must record how much the partition-local
    contraction pass consumed and emitted (round-8 review: without a
    signal, a layout regression degrading the pass to a pass-through is
    invisible).  On an id-contiguous chain the pass must genuinely
    contract (out < in)."""
    # 50 5-cliques (10 edges → 4 star edges each when co-located) plus a
    # chain; a tree's edge count is ~|V|-1 both before and after (the
    # pass cuts its DIAMETER, not its count), so the cliques carry the
    # out < in signal
    cliques = [
        (c * 5 + i, c * 5 + j)
        for c in range(50)
        for i in range(5)
        for j in range(i + 1, 5)
    ]
    chain = [(1000 + i, 1001 + i) for i in range(100)]
    pairs = spark.createDataFrame(
        cliques + chain, "doc_a long, doc_b long"
    ).coalesce(2)
    dedup.duplicate_components(pairs).count()
    stats = dict(dedup._LAST_CC_STATS)
    assert stats["contract_edges_in"] == len(cliques) + len(chain)
    assert 0 < stats["contract_edges_out"] < stats["contract_edges_in"]


def test_dup_ngram_coverage_hand_corpus(spark):
    """Three docs: A and B share one exact 5-word run; C is unique.
    Coverage counts DISTINCT 5-grams present in >= 2 docs, per doc."""
    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, shared + " zeta eta"),          # 3 grams, 1 shared
            (2, "theta iota " + shared),        # 3 grams, 1 shared
            (3, "one two three four five six"), # 2 grams, 0 shared
            (4, "too short"),                   # < 5 words: excluded
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup.dup_ngram_coverage(docs).collect()}
    assert set(rows) == {1, 2, 3}
    assert (rows[1].n_ngrams, rows[1].n_shared) == (3, 1)
    assert (rows[2].n_ngrams, rows[2].n_shared) == (3, 1)
    assert (rows[3].n_ngrams, rows[3].n_shared) == (2, 0)
    assert rows[1].dup_frac == round(1 / 3, 4)
    # a gram repeated WITHIN one doc only is not shared
    solo = spark.createDataFrame(
        [(1, shared + " " + shared), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    srows = {r.doc_id: r for r in dedup.dup_ngram_coverage(solo).collect()}
    assert srows[1].n_shared == 0
