"""Dedup tier: exact, Jaccard pairs, MinHash-LSH recall, SimHash."""

import pytest

from iatlas_cbioportal_export_spark.operators.dedup import (
    duplicated_spans,
    exact_dedup_keep_min,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_buckets,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),   # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat today"),   # near dup of 1
    (4, "completely different text about spark query engines and shuffles"),
    (5, "another unrelated document mentioning parquet and columnar storage"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_keep_min(docs):
    out = {r["doc_id"]: r["n_copies"] for r in exact_dedup_keep_min(docs).collect()}
    assert out[1] == 2          # keeper is min(1,2)
    assert 2 not in out
    assert out[3] == 1


def test_exact_duplicate_groups(docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["member_ids"] == [1, 2]


def test_ngram_jaccard_pairs_exact_values(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()
    }
    assert pairs[(1, 2)]["jaccard"] == 1.0          # identical
    near = pairs[(1, 3)]
    # 10 tokens -> 8 distinct trigrams each; the word at position 9 differs,
    # which appears in the trigrams starting at 7 and 8 -> |∩|=6, union=10
    assert near["n_a"] == 8 and near["n_b"] == 8 and near["n_common"] == 6
    assert abs(near["jaccard"] - 6 / 10) < 1e-12
    assert (4, 5) not in pairs


def test_minhash_finds_planted_near_dups(docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(docs, threshold=0.3).collect()
    }
    assert out[(1, 2)] == 1.0
    assert (1, 3) in out           # near-dup recalled through LSH bands
    assert (4, 5) not in out


def test_minhash_agrees_with_exact_jaccard(docs):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    mh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(docs, threshold=0.3).collect()
    }
    for pair, j in mh.items():
        assert abs(exact[pair] - j) < 1e-12  # verification stage is exact


def test_simhash_buckets_find_exact_dups(docs):
    out = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           simhash_buckets(docs, prefix_bits=8, max_hamming=16).collect()}
    assert out.get((1, 2)) == 0  # identical text -> identical sketch


def test_simhash_rotations_superset_of_single(docs):
    # multi-rotation buckets can only ADD candidate windows: the pair set at
    # rotations=4 must contain the rotations=1 set, with identical hamming
    one = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           simhash_buckets(docs, prefix_bits=8, max_hamming=32).collect()}
    four = {(r["id_a"], r["id_b"]): r["hamming"] for r in
            simhash_buckets(docs, prefix_bits=8, max_hamming=32, rotations=4).collect()}
    assert set(one) <= set(four)
    for pair in one:
        assert one[pair] == four[pair]
    assert four.get((1, 2)) == 0


def test_simhash_rotation_recovers_prefix_miss(spark):
    # near-dup pair whose sketches differ somewhere; with a FULL-width
    # "prefix" (64 bits) the exact-dup pair is still found under every
    # rotation, and rotations>1 never produce duplicate pair rows
    rows = [(i, "common shared text body for all docs variant " + str(i % 2))
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = simhash_buckets(df, prefix_bits=12, max_hamming=0, rotations=4).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    assert len(pairs) == len(set(pairs))  # deduped across rotations
    # identical-text pairs (same parity ids) must all surface at hamming 0
    expected = {(a, b) for a in range(6) for b in range(6)
                if a < b and a % 2 == b % 2}
    assert set(pairs) == expected


def test_minhash_cross_corpus_finds_planted_copies(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import (
        minhash_cross_corpus_duplicates,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
            (3, "totally different content lives in this row here"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (101, "alpha beta gamma delta epsilon zeta eta theta"),  # copy of 1
            (102, "fresh unseen words that match nothing at all ok"),
        ],
        "doc_id long, text string",
    )
    out = minhash_cross_corpus_duplicates(batch, corpus, threshold=0.5).collect()
    pairs = {(r["batch_id"], r["corpus_id"]): r["jaccard"] for r in out}
    assert pairs == {(101, 1): 1.0}


def test_minhash_cross_corpus_no_self_pairs_across_sets(spark):
    # identical ids in batch and corpus are DIFFERENT documents — the
    # operator must not suppress them the way a self-join's id_a < id_b does
    from iatlas_cbioportal_export_spark.operators.dedup import (
        minhash_cross_corpus_duplicates,
    )

    corpus = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    out = minhash_cross_corpus_duplicates(batch, corpus).collect()
    assert [(r["batch_id"], r["corpus_id"]) for r in out] == [(7, 7)]


def test_keyed_keep_best_argmax_and_ties(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import keyed_keep_best

    df = spark.createDataFrame(
        [
            ("u1", 1, 0.5), ("u1", 2, 0.9), ("u1", 3, 0.9),  # tie -> id 2
            ("u2", 4, 0.1),
        ],
        "url_key string, doc_id long, quality_score double",
    )
    out = {r["url_key"]: r for r in keyed_keep_best(df, ["url_key"], "quality_score").collect()}
    assert out["u1"]["doc_id"] == 2 and out["u1"]["quality_score"] == 0.9
    assert out["u1"]["n_copies"] == 3
    assert out["u2"]["doc_id"] == 4 and out["u2"]["n_copies"] == 1


def test_keyed_keep_best_partitioning_invariant(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import keyed_keep_best

    rows = [(f"k{i % 7}", i, float((i * 37) % 11)) for i in range(100)]
    df = spark.createDataFrame(rows, "url_key string, doc_id long, quality_score double")
    a = keyed_keep_best(df.repartition(1), ["url_key"], "quality_score").collect()
    b = keyed_keep_best(df.repartition(17), ["url_key"], "quality_score").collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}


def test_duplicated_spans_counts(spark):
    # k=3; doc 1 & 2 share one exact 3-token span ("spark shuffles data"),
    # doc 3 has no 3-token window in common with anyone, doc 4 is too short.
    rows = [
        (1, "alpha beta spark shuffles data gamma"),
        (2, "spark shuffles data delta epsilon"),
        (3, "totally unrelated words here only once"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: (r["n_windows"], r["n_dup_windows"], r["dup_window_fraction"])
        for r in duplicated_spans(df, k=3).collect()
    }
    assert out[1] == (4, 1, 0.25)
    assert out[2] == (3, 1, round(1 / 3, 6))
    assert out[3] == (4, 0, 0.0)
    assert out[4] == (0, 0, 0.0)


def test_duplicated_spans_exact_dup_docs_fully_covered(docs):
    # docs 1 and 2 are exact duplicates: every window of each is duplicated
    out = {r["id"]: r for r in duplicated_spans(docs, k=4).collect()}
    assert out[1]["dup_window_fraction"] == 1.0
    assert out[2]["dup_window_fraction"] == 1.0
    assert out[4]["n_dup_windows"] == 0


def test_jaccard_prefix_join_exact_small(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    rows = [
        (1, "a b c d"),
        (2, "a b c e"),     # J(1,2) = 3/5 = 0.6
        (3, "a b c d"),     # J(1,3) = 1.0, J(2,3) = 0.6
        (4, "x y z"),       # nothing
        (5, "a"),           # J with 1: 1/4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_join(df, threshold=0.6).collect()
    }
    assert got == {(1, 2): 0.6, (1, 3): 1.0, (2, 3): 0.6}


def test_jaccard_join_schemes_agree(spark):
    """Prefix and deletion blocking produce the identical exact pair set
    (same docs corpus slice, high threshold so both schemes are eligible),
    and auto picks deletion in the high-threshold regime."""
    from iatlas_cbioportal_export_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(80)
    )
    out = {}
    for scheme in ("prefix", "deletion", "auto"):
        rows = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in jaccard_prefix_join(
                docs, threshold=0.9, blocking=scheme
            ).collect()
        )
        out[scheme] = rows
    assert out["prefix"] == out["deletion"] == out["auto"]
    assert len(out["prefix"]) > 0


def test_jaccard_join_large_vocab_array_lane(spark):
    """Vocabulary > 64 forces the sorted-array verification lane (the
    bitmask fast path only exists for <=64 distinct tokens): brute-force
    comparison over a 120-token vocabulary pins the array lane's
    exactness, for both blocking schemes."""
    import itertools
    import random

    from iatlas_cbioportal_export_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    rng = random.Random(11)
    vocab = [f"w{i:03d}" for i in range(120)]
    base = rng.sample(vocab, 30)
    docs = []
    for i in range(40):
        toks = list(base)
        # perturb 0-2 tokens: one substitution keeps J(29/31)=0.935 >= 0.9,
        # two (or collapses) usually fall below — both sides of the
        # threshold are populated. ka stays <= 3 so the deletion scheme's
        # contract holds under an explicit blocking= override too.
        for _ in range(rng.randrange(0, 3)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sets = {i: set(t.split()) for i, t in docs}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        j = inter / uni
        if j >= 0.9:
            want[(a, b)] = round(j, 6)
    assert want, "fixture must contain qualifying pairs"

    for scheme in ("prefix", "deletion"):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_prefix_join(
                df, threshold=0.9, blocking=scheme
            ).collect()
        }
        assert got == want, scheme


def test_jaccard_deletion_override_out_of_regime_raises(spark):
    import pytest as _pytest

    from iatlas_cbioportal_export_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    rows = [(i, " ".join(f"t{i}_{k}" for k in range(30))) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with _pytest.raises(ValueError, match="deletion blocking requires"):
        jaccard_prefix_join(df, threshold=0.5, blocking="deletion").count()


def test_jaccard_auto_avoids_deletion_on_huge_sets(spark):
    """ka <= 3 alone must not auto-pick deletion blocking: a corpus of very
    LARGE token sets at a very high threshold has tiny ka but C(n, ka)
    signature variants per row (n=2000, ka=1 is fine; n=2000 at a threshold
    giving ka=2 is ~2e6 variants/row — executor-OOM territory at scale).
    Auto must fall back to prefix; the exact pair set is unchanged."""
    from iatlas_cbioportal_export_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    n = 2000
    base = [f"w{k:05d}" for k in range(n)]
    # doc 1 == doc 0 minus one token: J = 1999/2000 = 0.9995 >= t.
    # threshold 0.999 on n=2000 gives ka = 2000 - ceil(0.999*2000) = 2
    # → deletion variants ≈ C(2000,2) ≈ 2e6 > budget → prefix.
    docs = [(0, " ".join(base)), (1, " ".join(base[:-1])), (2, " ".join(f"x{k}" for k in range(50)))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_join(df, threshold=0.999, blocking="auto").collect()
    }
    assert got == {(0, 1): round(1999 / 2000, 6)}


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("blocking", ["prefix", "deletion"])
def test_jaccard_join_long_sets_bounds_do_not_overflow(spark, blocking, ansi):
    """Both schemes' candidate bounds multiply a set size by a ~2e6
    micro-unit literal (t = 0.998 → 998,000 and 1,998,000). Past ~1,075
    tokens that product leaves int32: with ANSI off it wraps, and the
    positional filter drops this true pair (both prefix matches, at rarity
    ranks (1, 0) and (2, 1), have overlap bounds 1,076 and 1,075 whose
    products wrap negative); with ANSI on the query raises. The bounds
    must run in long arithmetic."""
    from iatlas_cbioportal_export_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    base = [f"w{k:05d}" for k in range(1077)]
    # doc 1 == doc 0 minus its rarest token: J = 1076/1077 = 0.99907 >= t.
    docs = [(0, " ".join(base)), (1, " ".join(base[1:]))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_prefix_join(
                df, threshold=0.998, blocking=blocking
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    assert got == {(0, 1): round(1076 / 1077, 6)}


def test_containment_join_finds_planted_excerpt(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import (
        containment_join,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, "alpha beta gamma delta epsilon zeta"),  # prefix excerpt
            (3, "completely different words here now ok"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in containment_join(df, threshold=0.9).collect()
    }
    # doc2's 5-gram shingles (2 of them) are all inside doc1 → C(2→1)=1;
    # the reverse direction has C(1→2)=2/6 < 0.9; doc3 matches nothing.
    assert set(got) == {(2, 1)}
    assert got[(2, 1)]["containment_ppm"] == 1_000_000
    assert got[(2, 1)]["inter"] == got[(2, 1)]["n_a"] == 2


def test_containment_join_word_mode_asymmetry(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import (
        containment_join,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment_ppm"]
        for r in containment_join(df, threshold=0.5, ngram_n=None).collect()
    }
    # C(2→1) = 3/3 = 1; C(1→2) = 3/10 < 0.5 → direction matters
    assert got == {(2, 1): 1_000_000}


# ---------------------------------------------------------------------------
# paragraph-level exact dedup (round 7: the C4/Dolma sub-document pass)
# ---------------------------------------------------------------------------


def test_dedup_paragraphs_first_occurrence_wins(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import (
        dedup_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (0, "COOKIE BANNER\n\nalpha body\n\nshared quote"),
            (1, "COOKIE BANNER\n\nbeta body\n\nshared quote"),
            (2, "COOKIE BANNER"),  # fully boilerplate -> no output row
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    assert set(out) == {0, 1}  # doc 2 vanished entirely
    assert out[0].text == "COOKIE BANNER\n\nalpha body\n\nshared quote"
    assert out[0].n_paragraphs == 3 and out[0].n_kept == 3
    assert out[1].text == "beta body"
    assert out[1].n_paragraphs == 3 and out[1].n_kept == 1


def test_dedup_paragraphs_within_doc_and_empties(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import (
        dedup_paragraphs,
    )

    docs = spark.createDataFrame(
        [(5, "x\n\n\n\nx\n\ny")],  # empty paragraph + self-duplicate
        "doc_id long, text string",
    )
    row = dedup_paragraphs(docs).collect()[0]
    assert row.text == "x\n\ny"
    assert row.n_paragraphs == 3  # empties dropped before counting
    assert row.n_kept == 2


def test_dedup_paragraphs_partitioning_invariant(spark):
    from iatlas_cbioportal_export_spark.operators.dedup import (
        dedup_paragraphs,
    )

    rows = [
        (i, f"common header\n\nbody {i % 7}\n\ntail {i}") for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r.doc_id, r.n_kept, r.text)
        for r in dedup_paragraphs(docs).collect()
    )
    b = sorted(
        (r.doc_id, r.n_kept, r.text)
        for r in dedup_paragraphs(docs.repartition(13)).collect()
    )
    assert a == b
    # "common header" survives only in doc 0; "body k" only in doc k
    by_id = dict((d, (k, t)) for d, k, t in a)
    assert by_id[0][1].startswith("common header")
    assert all(not by_id[i][1].startswith("common header") for i in range(1, 60))


def test_containment_join_randomized_bruteforce_differential(spark):
    """The r8 hash-first rewrite vs a straight-Python brute force on a
    seeded random corpus, BOTH modes: every (id_a, id_b, n_a, inter,
    containment_ppm) row must match the exact set arithmetic (exact=True
    so no df-cap enters; collisions in the 64-bit candidate space would
    only ADD candidates, which exact verification removes)."""
    import random

    from iatlas_cbioportal_export_spark.operators.dedup import (
        containment_join,
    )

    rng = random.Random(991)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(36):
        n = rng.randint(1, 18)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant a few true containments: short excerpts of longer docs
    for j, (src, text) in enumerate(docs[:6]):
        words = text.split()
        k = max(1, len(words) * 3 // 4)
        docs.append((100 + j, " ".join(words[:k])))

    def brute(pairs_n, t):
        sets = {i: frozenset(t2.split()) for i, t2 in pairs_n if t2.split()}
        out = set()
        for a, sa in sets.items():
            for b, sb in sets.items():
                if a == b:
                    continue
                inter = len(sa & sb)
                if inter * 1_000_000 >= int(round(t * 1e6)) * len(sa):
                    out.add((a, b, len(sa), inter, inter * 1_000_000 // len(sa)))
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.6, 0.85):
        got = {
            (r["id_a"], r["id_b"], r["n_a"], r["inter"], r["containment_ppm"])
            for r in containment_join(
                df, threshold=t, ngram_n=None, exact=True
            ).collect()
        }
        assert got == brute(docs, t), f"word mode t={t}"

    # shingle mode (n=3) against brute force over 3-gram shingle sets
    def shingles(text, n=3):
        w = text.split()
        if not w:
            return frozenset()
        if len(w) < n:
            return frozenset([" ".join(w)])
        return frozenset(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))

    def brute_sh(pairs_n, t):
        sets = {i: shingles(t2) for i, t2 in pairs_n if shingles(t2)}
        out = set()
        for a, sa in sets.items():
            for b, sb in sets.items():
                if a == b:
                    continue
                inter = len(sa & sb)
                if inter * 1_000_000 >= int(round(t * 1e6)) * len(sa):
                    out.add((a, b, len(sa), inter, inter * 1_000_000 // len(sa)))
        return out

    got = {
        (r["id_a"], r["id_b"], r["n_a"], r["inter"], r["containment_ppm"])
        for r in containment_join(
            df, threshold=0.7, ngram_n=3, exact=True
        ).collect()
    }
    assert got == brute_sh(docs, 0.7)
