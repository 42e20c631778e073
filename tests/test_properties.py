"""Property-based tests (hypothesis): random-input equivalence between
the scale-path operators and their naive reference formulations.  The
reference's tests are golden-exact only (SURVEY.md §5); these add the
randomized coverage it lacks."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parcial_bigdata_spark.operators import dedup, joins, scale

import os

_SETTINGS = dict(
    # each example spins Spark jobs — keep the default corpus small;
    # raise via SPARK_GRAFT_HYPOTHESIS_MAX for a deep one-off sweep
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_MAX", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


@st.composite
def doc_corpus(draw):
    n = draw(st.integers(min_value=2, max_value=12))
    docs = []
    for i in range(n):
        nw = draw(st.integers(min_value=1, max_value=12))
        words = [draw(st.sampled_from(WORDS)) for _ in range(nw)]
        text = " ".join(words)
        docs.append((i, text, draw(st.sampled_from(["en", "es"])), "web", len(text)))
    return docs


@given(docs=doc_corpus())
@settings(**_SETTINGS)
def test_jaccard_blocking_lossless_on_random_corpora(spark, docs):
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from parcial_bigdata_spark.operators.text import normalized

    ws = df.select(
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
           for r in dedup.jaccard_pairs(df, threshold=0.6).collect()}
    assert got == expected


@st.composite
def asof_data(draw):
    base = dt.datetime(2025, 1, 1)
    n_left = draw(st.integers(min_value=1, max_value=10))
    n_right = draw(st.integers(min_value=0, max_value=10))
    mins = st.integers(min_value=0, max_value=100)
    keys = st.integers(min_value=1, max_value=3)
    left = [
        (i, draw(keys), base + dt.timedelta(minutes=draw(mins)))
        for i in range(n_left)
    ]
    right = [
        (draw(keys), base + dt.timedelta(minutes=draw(mins)), float(j))
        for j in range(n_right)
    ]
    return left, right


@given(data=asof_data())
@settings(**_SETTINGS)
def test_asof_join_matches_naive_formulation(spark, data):
    left_rows, right_rows = data
    left = spark.createDataFrame(left_rows, "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(right_rows, "user_id long, ts timestamp, px double")

    got = {
        r.event_id: r.px
        for r in joins.asof_join(left, right, "user_id", "ts", "ts", ["px"]).collect()
    }

    # naive per-row python oracle: latest right at/before left.ts, same key;
    # ties on right.ts resolved to the LAST right row in input order is not
    # defined — restrict to max px among tied max-ts rows matching window
    # semantics (last over ts-ordered rows): compare on ts only.
    expected = {}
    for eid, k, lts in left_rows:
        cands = [(rts, px) for (rk, rts, px) in right_rows if rk == k and rts <= lts]
        expected[eid] = max(cands)[0] if cands else None

    got_ts = {}
    for eid, k, lts in left_rows:
        px = got[eid]
        if px is None:
            got_ts[eid] = None
        else:
            # recover the ts of the matched right row via its px
            got_ts[eid] = max(rts for (rk, rts, rpx) in right_rows if rk == k and rpx == px)
    assert got_ts == expected


@given(
    n_left=st.integers(min_value=0, max_value=40),
    n_keys=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join(spark, n_left, n_keys, seed):
    import random

    rnd = random.Random(seed)
    left_rows = [(rnd.randrange(n_keys), i) for i in range(n_left)]
    right_rows = [(k, k * 10) for k in range(n_keys) if rnd.random() < 0.7]
    left = spark.createDataFrame(left_rows or [(0, 0)], "k long, v long")
    right = spark.createDataFrame(right_rows or [(99, 990)], "k long, w long")

    plain = sorted(map(tuple, left.join(right, "k").select("k", "v", "w").collect()))
    salted = sorted(
        map(tuple, scale.salted_join(left, right, "k", n_salts=3).select("k", "v", "w").collect())
    )
    assert plain == salted


@given(docs=doc_corpus(), chunk=st.integers(2, 6), stride=st.integers(1, 6))
@settings(**_SETTINGS)
def test_chunking_covers_every_token_without_invention(spark, docs, chunk, stride):
    """Invariants for any (chunk_size, stride): every token of every doc
    appears in some chunk; token positions [start, start+chunk_tokens)
    tile the doc exactly when stride >= chunk (and overlap otherwise);
    reconstructing from non-overlapping prefixes restores the text."""
    from parcial_bigdata_spark.operators.sampling import chunk_documents
    from parcial_bigdata_spark.operators.text import normalized

    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    norm = {
        r.doc_id: r.t.split(" ")
        for r in df.select("doc_id", normalized(F.col("text")).alias("t")).collect()
    }
    out = chunk_documents(df, chunk_size=chunk, stride=stride).collect()
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(norm)
    for doc_id, rows in per_doc.items():
        toks = norm[doc_id]
        covered = set()
        for r in sorted(rows, key=lambda r: r.chunk_id):
            assert r.chunk_start == r.chunk_id * stride
            assert r.chunk_tokens == min(chunk, len(toks) - r.chunk_start)
            assert r.chunk_text.split(" ") == toks[r.chunk_start:r.chunk_start + chunk]
            covered.update(range(r.chunk_start, r.chunk_start + r.chunk_tokens))
        # starts advance by stride until the doc is exhausted → with any
        # stride <= chunk the union of windows covers every position
        if stride <= chunk:
            assert covered == set(range(len(toks)))


@given(docs=doc_corpus(), n=st.integers(2, 4))
@settings(**_SETTINGS)
def test_decontamination_containment_properties(spark, docs, n):
    """For any corpus: screening a corpus against ITSELF yields
    contaminated_frac == 1.0 for every doc with >= n words, and fractions
    always lie in [0, 1] with n_contaminated <= n_ngrams."""
    from parcial_bigdata_spark.operators.dedup import ngram_contamination

    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    self_screen = ngram_contamination(df, df, n=n).collect()
    for r in self_screen:
        assert r.n_contaminated == r.n_ngrams
        assert r.contaminated_frac == 1.0
    disjoint = spark.createDataFrame(
        [(999, "qqq www eee rrr ttt yyy uuu", "en", "web", 27)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    screened = ngram_contamination(disjoint, df, n=n).collect()
    for r in screened:
        assert 0 <= r.n_contaminated <= r.n_ngrams
        assert 0.0 <= r.contaminated_frac <= 1.0


@given(
    # raw orientation, duplicates, AND self-pairs all allowed — the
    # operator canonicalizes internally and self-pair-only vertices
    # must come back as identity components
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    ),
    tail_threshold=st.sampled_from([0, 10**6]),
)
@settings(**_SETTINGS)
def test_duplicate_components_matches_union_find(spark, monkeypatch, edges, tail_threshold):
    """On any random edge list, contraction CC (tail disabled) and the
    Arrow union-find tail both label every vertex with the exact
    component minimum computed by a driver-side union-find reference."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    monkeypatch.setattr(dedup, "_CC_TAIL_EDGES", tail_threshold)
    got = {r.doc_id: r.comp for r in dedup.duplicate_components(pairs).collect()}
    assert got == expected


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # doc_id (unique-ified below)
            st.integers(min_value=1, max_value=50),  # n_chars
        ),
        min_size=1,
        max_size=15,
    ),
    comp_of=st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.integers(min_value=0, max_value=3),
        max_size=10,
    ),
)
@settings(**_SETTINGS)
def test_survivor_aggregate_matches_rank_semantics(spark, docs, comp_of):
    """The min-struct survivor pick must equal the rank-1 row under
    (n_chars DESC, doc_id ASC) for any component assignment."""
    from collections import defaultdict

    rows = {d: n for d, n in docs}  # dedupe doc ids, last wins
    assigned = [(d, n, comp_of.get(d, d)) for d, n in rows.items()]
    groups = defaultdict(list)
    for d, n, c in assigned:
        groups[c].append((d, n))
    expected = {}
    for c, members in groups.items():
        best = sorted(members, key=lambda m: (-m[1], m[0]))[0]
        expected[c] = (best[0], best[1], len(members))

    df = spark.createDataFrame(assigned, "doc_id long, n_chars long, comp long")
    best_expr = F.min(
        F.struct((-F.col("n_chars")).alias("negc"), F.col("doc_id").alias("d"))
    )
    got = {
        r.comp: (r.survivor_doc_id, r.survivor_chars, r.n_members)
        for r in df.groupBy("comp")
        .agg(best_expr.alias("best"), F.count("*").alias("n_members"))
        .select(
            "comp",
            F.col("best.d").alias("survivor_doc_id"),
            (-F.col("best.negc")).alias("survivor_chars"),
            "n_members",
        )
        .collect()
    }
    assert got == expected


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ).filter(lambda v: sum(x * x for x in v) > 1e-4),  # cosine is
        # undefined (ANSI divide-by-zero) on zero-norm vectors — outside
        # the engine's embedding contract, like its DuckDB oracle
        min_size=2,
        max_size=10,
    ),
    k=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_assign_clusters_matches_argmax_reference(spark, vecs, k):
    """The map-side max-struct assignment must pick, for every vector,
    the centroid with the highest rounded cosine (ties -> lowest cluster
    id), per a driver-side reference."""
    import math

    from parcial_bigdata_spark.operators.similarity import assign_clusters

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        if da == 0 or db == 0:
            return None
        return round(num / (da * db), 6)

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents_rows = [(c, [float(x) for x in vecs[c % len(vecs)]]) for c in range(k)]
    cents = spark.createDataFrame(cents_rows, "cluster int, centroid array<double>")
    got = {
        r.vec_id: (r.cluster, r.sim)
        for r in assign_clusters(emb, cents).collect()
    }
    for i, v in enumerate(vecs):
        sims = [(cos(v, cv), c) for c, cv in cents_rows]
        # None (zero-norm) sims sort below any real sim, matching SQL
        # null ordering in max(); a vector with all-null sims keeps
        # whatever null row max() produces — skip those.
        real = [(s, c) for s, c in sims if s is not None]
        if not real:
            continue
        best = sorted(real, key=lambda t: (-t[0], t[1]))[0]
        assert got[i] == (best[1], best[0])


@st.composite
def event_stream(draw):
    n = draw(st.integers(min_value=1, max_value=20))
    rows = []
    for _ in range(n):
        user = draw(st.integers(min_value=1, max_value=3))
        # minute offsets keep gap arithmetic exact; duplicates allowed
        # (equal ts => gap 0 => same session, order-invariant)
        minutes = draw(st.integers(min_value=0, max_value=300))
        value = draw(st.integers(min_value=0, max_value=50))
        rows.append((user, minutes, value))
    return rows


@given(stream=event_stream(), gap=st.integers(min_value=1, max_value=60))
@settings(**_SETTINGS)
def test_sessionize_matches_naive_gap_rule(spark, stream, gap):
    """sessionize (lag + cumulative gap counter, one shuffle) must agree
    with the obvious per-user sequential gap splitter on random event
    streams — session boundaries, event counts, start/end, and value
    sums all exact (integer values: no rounding-mode ambiguity)."""
    from parcial_bigdata_spark.operators.windows import sessionize

    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    events = spark.createDataFrame(
        [
            (i, u, base + dt.timedelta(minutes=m), float(v))
            for i, (u, m, v) in enumerate(stream)
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {
        (r.user_id, r.session_seq): (
            r.n_events,
            r.session_start,
            r.session_end,
            r.session_value,
        )
        for r in sessionize(events, gap_minutes=gap).collect()
    }

    per_user: dict[int, list[tuple[int, int]]] = {}
    for u, m, v in stream:
        per_user.setdefault(u, []).append((m, v))
    expected = {}
    for u, evs in per_user.items():
        evs.sort()
        seq, cur = 0, [evs[0]]
        sessions = []
        for prev, ev in zip(evs, evs[1:]):
            if ev[0] - prev[0] > gap:
                sessions.append((seq, cur))
                seq, cur = seq + 1, [ev]
            else:
                cur.append(ev)
        sessions.append((seq, cur))
        for seq, cur in sessions:
            expected[(u, seq)] = (
                len(cur),
                base + dt.timedelta(minutes=min(m for m, _ in cur)),
                base + dt.timedelta(minutes=max(m for m, _ in cur)),
                float(sum(v for _, v in cur)),
            )
    assert {k: (n, s.replace(tzinfo=dt.timezone.utc), e.replace(tzinfo=dt.timezone.utc), val) for k, (n, s, e, val) in got.items()} == expected


@given(docs=doc_corpus(), budget=st.integers(min_value=1, max_value=20))
@settings(**_SETTINGS)
def test_pack_sequences_matches_sequential_packer(spark, docs, budget):
    """pack_sequences (window cumsum layout) must reproduce the exact
    per-(lang, bin) accounting of a driver-side sequential packer that
    walks docs in doc_id order and bins each at
    floor(exclusive_running_tokens / budget) — token conservation, bin
    boundaries, and first/last doc ids all exact."""
    from parcial_bigdata_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r.lang, r.bin): (r.n_docs, r.total_tokens, r.first_doc, r.last_doc)
        for r in pack_sequences(df, budget=budget).collect()
    }

    per_lang: dict[str, list[tuple[int, int]]] = {}
    for doc_id, text, lang, _src, _nc in sorted(docs):
        per_lang.setdefault(lang, []).append((doc_id, len(text.split(" "))))
    expected: dict[tuple[str, int], list] = {}
    for lang, entries in per_lang.items():
        running = 0
        for doc_id, ntok in entries:
            b = running // budget
            agg = expected.setdefault((lang, b), [0, 0, doc_id, doc_id])
            agg[0] += 1
            agg[1] += ntok
            agg[2] = min(agg[2], doc_id)
            agg[3] = max(agg[3], doc_id)
            running += ntok
    assert got == {k: tuple(v) for k, v in expected.items()}


@st.composite
def asof_tol_data(draw):
    n_left = draw(st.integers(min_value=1, max_value=10))
    n_right = draw(st.integers(min_value=0, max_value=10))
    lefts, rights, used = [], [], set()
    for i in range(n_left):
        lefts.append((i, draw(st.integers(1, 3)), draw(st.integers(0, 100))))
    for _ in range(n_right):
        key = draw(st.integers(1, 3))
        m = draw(st.integers(0, 100))
        if (key, m) in used:  # unique (key, ts): merge_asof tie rule differs
            continue
        used.add((key, m))
        rights.append((key, m, float(len(used))))
    tol = draw(st.one_of(st.none(), st.integers(1, 40)))
    return lefts, rights, tol


@given(data=asof_tol_data())
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, data):
    """asof_join (union+window, one shuffle) with and without tolerance
    must reproduce pandas merge_asof — an independent reference
    implementation of point-in-time semantics (tolerance in minutes;
    matches staler than the window null out, left rows survive)."""
    import pandas as pd

    lefts, rights, tol = data
    base = dt.datetime(2024, 5, 1)

    left = spark.createDataFrame(
        [(e, k, base + dt.timedelta(minutes=m)) for e, k, m in lefts],
        "event_id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=m), v) for k, m, v in rights],
        "k long, ts timestamp, px double",
    ) if rights else spark.createDataFrame([], "k long, ts timestamp, px double")

    from parcial_bigdata_spark.operators.joins import asof_join

    got = {
        r.event_id: r.px
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_vals=["px"],
            tolerance=None if tol is None else tol * 60.0,
        ).collect()
    }

    lpdf = pd.DataFrame(
        [(e, k, base + dt.timedelta(minutes=m)) for e, k, m in lefts],
        columns=["event_id", "k", "ts"],
    ).sort_values("ts", kind="stable").reset_index(drop=True)
    rpdf = pd.DataFrame(
        {
            "k": pd.Series([k for k, _, _ in rights], dtype="int64"),
            "ts": pd.to_datetime(
                [base + dt.timedelta(minutes=m) for _, m, _ in rights]
            ),
            "px": pd.Series([v for _, _, v in rights], dtype="float64"),
        }
    ).sort_values("ts", kind="stable").reset_index(drop=True)
    merged = pd.merge_asof(
        lpdf, rpdf, on="ts", by="k",
        tolerance=None if tol is None else pd.Timedelta(minutes=tol),
    )
    expected = {
        int(r.event_id): (None if pd.isna(r.px) else float(r.px))
        for r in merged.itertuples()
    }
    assert got == expected


@given(payload=st.binary(min_size=0, max_size=128))
@settings(**_SETTINGS)
def test_media_header_decoders_total_on_arbitrary_bytes(payload):
    """The stdlib-struct container parsers are TOTAL functions of the
    payload: arbitrary (including adversarial) bytes must produce either
    a well-typed metadata dict or None — never an exception, which would
    kill a whole Arrow batch over one corrupt blob.  Pure-Python
    property (no Spark session): the decoders run row-side inside
    mapInPandas, so this is exactly their exposure."""
    from parcial_bigdata_spark.operators import multimodal as mm

    fmt = mm._sniff_one(payload)
    assert fmt in (None, "wav", "png", "bmp", "gif", "jpeg", "avi", "mp4")
    if fmt is not None:
        meta = mm._DECODERS[fmt](payload)
        if meta is not None:
            assert meta["width"] is None or meta["width"] >= 0
            assert meta["channels"] is None or meta["channels"] >= 1
            assert meta["bit_depth"] is None or meta["bit_depth"] >= 1


@given(payload=st.binary(min_size=0, max_size=64), fmt_seed=st.integers(0, 6))
@settings(**_SETTINGS)
def test_media_header_decoders_total_on_magic_prefixed_bytes(payload, fmt_seed):
    """Same totality property with the format magic FORCED onto random
    tails — the adversarial region is after the magic, and pure-random
    payloads almost never reach it."""
    from parcial_bigdata_spark.operators import multimodal as mm

    magic = [
        b"\x89PNG\r\n\x1a\n",
        b"BM",
        b"GIF89a",
        b"RIFF\x10\x00\x00\x00WAVE",
        b"RIFF\x10\x00\x00\x00AVI ",
        b"\x00\x00\x00\x10ftyp",
        b"\xff\xd8\xff",
    ][fmt_seed]
    content = magic + payload
    fmt = mm._sniff_one(content)
    if fmt is not None:
        meta = mm._DECODERS[fmt](content)
        if meta is not None:
            assert meta["channels"] is None or meta["channels"] >= 1
            assert meta["bit_depth"] is None or meta["bit_depth"] >= 1


@given(docs=doc_corpus(), min_count=st.integers(min_value=1, max_value=12))
@settings(**_SETTINGS)
def test_heavy_hitters_equals_naive_filter(spark, docs, min_count):
    """Heavy hitters equal a naive count-and-filter for any corpus and
    threshold, under forced tiny Arrow batches."""
    from collections import Counter

    from parcial_bigdata_spark.operators.text import heavy_hitters

    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        got = {
            (r.word, r.n_occurrences)
            for r in heavy_hitters(df, min_count).collect()
        }
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    truth = Counter(w for _, text, *_ in docs for w in text.split(" ") if w)
    expected = {(w, c) for w, c in truth.items() if c >= min_count}
    assert got == expected


@st.composite
def user_day_sets(draw):
    n_users = draw(st.integers(min_value=1, max_value=4))
    out = []
    eid = 0
    for u in range(n_users):
        days = draw(
            st.sets(st.integers(min_value=1, max_value=20), min_size=1, max_size=12)
        )
        for d in days:
            # duplicate some days to prove intra-day multiplicity is inert
            for _ in range(draw(st.integers(min_value=1, max_value=2))):
                out.append((eid, dt.datetime(2024, 1, d), u, "a", 0.0, "{}"))
                eid += 1
    return out


@given(rows=user_day_sets())
@settings(**_SETTINGS)
def test_activity_streaks_match_python_reference(spark, rows):
    from parcial_bigdata_spark.operators import analytics

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r.user_id: (r.n_active_days, r.n_streaks, r.longest_streak)
        for r in analytics.activity_streaks(df).collect()
    }
    by_user: dict[int, set[int]] = {}
    for _, ts, u, *_ in rows:
        by_user.setdefault(u, set()).add(ts.day)
    expected = {}
    for u, days in by_user.items():
        ds = sorted(days)
        runs, cur = [], 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        expected[u] = (len(ds), len(runs), max(runs))
    assert got == expected


@st.composite
def typed_values(draw):
    """(event_type, value) stream with duplicates, ties, and skewed
    group sizes — the adversarial inputs for exact median selection."""
    n_types = draw(st.integers(min_value=1, max_value=3))
    rows = []
    eid = 0
    for t in range(n_types):
        n = draw(st.integers(min_value=1, max_value=40))
        # small value domain forces heavy ties (duplicate-band case)
        dom = draw(st.sampled_from([3, 10, 1000]))
        for _ in range(n):
            v = float(draw(st.integers(min_value=0, max_value=dom)))
            rows.append((eid, f"t{t}", v))
            eid += 1
    return rows


@given(rows=typed_values())
@settings(**_SETTINGS)
def test_sketch_exact_median_matches_sorted_selection(spark, rows):
    """The round-11 sketch-guided selection must return EXACTLY the
    lower-middle element (rank floor((n+1)/2) of the sorted values)
    for every group, at any tie structure — the property the GK
    bracket + exact band rank is supposed to guarantee."""
    from parcial_bigdata_spark.operators.analytics import (
        _sketch_exact_median,
    )

    df = spark.createDataFrame(
        rows, "event_id long, event_type string, v double"
    )
    med_by, n_by = _sketch_exact_median(df, "v", "event_id")
    expected = {}
    for eid, t, v in rows:
        expected.setdefault(t, []).append(v)
    for t, vals in expected.items():
        vals.sort()
        assert n_by[t] == len(vals)
        assert med_by[t] == vals[(len(vals) + 1) // 2 - 1], t


@given(rows=typed_values())
@settings(**_SETTINGS)
def test_bounded_domain_percentile_matches_sorted_selection(spark, rows):
    """fulfillment_percentiles' integer cross-multiplied CDF selection
    (cum·100 ≥ p·n) must pick exactly the ceil(p·n/100)-th smallest
    value per group."""
    import math as m

    from parcial_bigdata_spark.operators.analytics import (
        fulfillment_percentiles,
    )

    base = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(eid, t, base) for eid, t, _ in rows],
        "o_orderkey long, o_orderpriority string, o_orderdate timestamp",
    )
    lineitem = spark.createDataFrame(
        [(eid, base + dt.timedelta(days=int(v))) for eid, _, v in rows],
        "l_orderkey long, l_shipdate timestamp",
    )
    got = {
        r.o_orderpriority: r
        for r in fulfillment_percentiles(orders, lineitem).collect()
    }
    expected = {}
    for _, t, v in rows:
        expected.setdefault(t, []).append(int(v))
    for t, vals in expected.items():
        vals.sort()
        n = len(vals)
        for p in (50, 90, 99):
            want = vals[m.ceil(p * n / 100) - 1]
            assert got[t][f"p{p}_days"] == want, (t, p)


def _frame_decoder_fixtures():
    """One VALID fixture per round-15 payload decoder, built by the
    independent test encoders (pure Python — no Spark)."""
    import numpy as np

    from tests.test_jpeg_codec import QUANT_REAL, _block, _make_jpeg_full
    from tests.test_video_frames import (
        _avi, _dib_frame, _grad_bgr, _i420, _mp4,
    )
    from parcial_bigdata_spark.operators import multimodal as mm

    jpeg = _make_jpeg_full(
        16, 8, [[_block(20, [(1, 3)]), _block(-7)]], QUANT_REAL
    )
    avi = _avi([_dib_frame(_grad_bgr(6, 4, 5))], 6, 4)
    y = np.full((4, 4), 90, dtype=np.uint8)
    neutral = np.full((2, 2), 128, dtype=np.uint8)
    mp4 = _mp4([_i420(y, neutral, neutral)], 4, 4)
    return [
        (jpeg, lambda b: mm._frame_rgb_stats([mm._jpeg_pixels(b)])),
        (avi, lambda b: mm._frame_rgb_stats(mm._avi_frames(b))),
        (mp4, lambda b: mm._frame_rgb_stats(mm._mp4_frames(b))),
    ]


@given(payload=st.binary(min_size=0, max_size=96), which=st.integers(0, 2))
@settings(**_SETTINGS)
def test_frame_decoders_taxonomy_total_on_magic_prefixed_bytes(
    payload, which
):
    """The round-15 pixel/frame decoders are TOTAL over adversarial
    magic-prefixed bytes: every outcome is a well-typed stats dict,
    ValueError (corrupt), or NotImplementedError (valid-but-out-of-
    scope) — never any other exception, which would kill a whole Arrow
    batch over one hostile blob."""
    from parcial_bigdata_spark.operators import multimodal as mm

    magic, fn = [
        (b"\xff\xd8\xff", lambda b: mm._frame_rgb_stats([mm._jpeg_pixels(b)])),
        (b"RIFF\xff\x00\x00\x00AVI ",
         lambda b: mm._frame_rgb_stats(mm._avi_frames(b))),
        (b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00",
         lambda b: mm._frame_rgb_stats(mm._mp4_frames(b))),
    ][which]
    try:
        stats = fn(magic + payload)
    except (ValueError, NotImplementedError):
        return
    assert stats["n_pixels"] >= 0 and stats["width"] >= 1


@given(
    pos=st.integers(min_value=0, max_value=10_000),
    val=st.integers(min_value=0, max_value=255),
    which=st.integers(0, 2),
)
@settings(**_SETTINGS)
def test_frame_decoders_total_under_single_byte_corruption(pos, val, which):
    """Single-byte corruption of a VALID fixture reaches far deeper
    than random tails (past the header walk, into sample tables,
    entropy streams, plane geometry): the decoder must still resolve
    to the ValueError/NotImplementedError taxonomy or a well-typed
    dict — struct.error / IndexError / numpy shape errors leaking out
    would be a crash in production's mapInPandas batch."""
    fixtures = _frame_decoder_fixtures()
    blob, fn = fixtures[which]
    pos %= len(blob)
    mutated = blob[:pos] + bytes([val]) + blob[pos + 1 :]
    try:
        stats = fn(mutated)
    except (ValueError, NotImplementedError):
        return
    assert stats["n_pixels"] >= 0
