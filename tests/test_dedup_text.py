"""Dedup + text operators (extension surface, SURVEY.md §2.10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from square_etl_spark.operators.dedup import (
    exact_dedup,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
    word_shingles,
)
from square_etl_spark.operators.text import (
    fingerprint64,
    lang_id,
    quality_score,
    token_count,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    # near dup: one-word change.  "wolf" (not "cat") because SimHash
    # banding is a recall heuristic, not a guarantee — under the
    # md5-based token hash this substitution yields hamming 5 with two
    # clean 16-bit bands, so the pair is robustly detected; "cat"
    # lands at hamming 11 with zero clean bands and is (correctly, per
    # the algorithm) missed by the band pigeonhole.
    (3, "the quick brown fox jumps over the lazy wolf"),
    (4, "completely different text about spark engines"),
    (5, ""),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups_identical_content(spark):
    out = {r.doc_id: r.dup_count for r in exact_dedup(_docs(spark)).collect()}
    assert out[1] == 2  # survivor is min id, counts both copies
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_word_shingles_short_docs_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    out = df.select(word_shingles("text", 3).alias("s")).collect()
    assert out[0].s == []
    assert out[1].s == ["a b c", "b c d"]


def test_ngram_jaccard_exact_dup_is_1(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark), threshold=0.1, df_cap=None
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.1 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_simhash_identical_docs_same_signature(spark):
    sigs = {
        r.doc_id: r.sig
        for r in _docs(spark).select("doc_id", simhash64("text").alias("sig")).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_simhash_near_dup_finds_close_pairs(spark):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(_docs(spark), max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # one-word change → small hamming distance


def test_token_count_edges(spark):
    df = spark.createDataFrame([("",), ("  ",), ("a b  c",)], "text string")
    out = [r.n for r in df.select(token_count("text").alias("n")).collect()]
    assert out == [0, 0, 3]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the hat is in that house"),
            (2, "le chat est dans la maison et le jardin"),
            (3, "xyzzy plugh"),
        ],
        "id long, text string",
    )
    out = {r.id: r.p for r in df.select("id", lang_id("text").alias("p")).collect()}
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_quality_score_ranks_prose_above_noise(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog in the field"),
         (2, "!!! ??? ... ;;; :::")],
        "id long, text string",
    )
    out = {r.id: r.q for r in df.select("id", quality_score("text").alias("q")).collect()}
    assert out[1] > out[2]
    assert 0.0 <= out[2] <= out[1] <= 1.0


def test_fingerprint_deterministic_and_content_sensitive(spark):
    df = _docs(spark)
    a = {r.doc_id: r.f for r in df.select("doc_id", fingerprint64("text").alias("f")).collect()}
    b = {r.doc_id: r.f for r in df.select("doc_id", fingerprint64("text").alias("f")).collect()}
    assert a == b  # deterministic across runs
    assert a[1] == a[2]
    assert a[1] != a[3]
    assert a[5] == 0  # empty text → identity hash


def test_connected_components_chain_and_islands(spark):
    from square_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (3, 4)],  # chain 1-2-3-4, island 7-8
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_connected_components_star_fewer_rounds_on_chain(spark):
    """The large-star/small-star default converges in ~log(diameter)
    rounds where min-label propagation needs O(diameter): on a 16-hop
    chain the star variant must land the same labels in strictly fewer
    rounds (VERDICT r2 #6)."""
    from square_etl_spark.operators.dedup import connected_components

    n = 16
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    want = {i: 0 for i in range(n + 1)}
    star_stats, ml_stats = {}, {}
    got_star = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            pairs, algorithm="star", stats=star_stats
        ).collect()
    }
    got_ml = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            pairs, algorithm="min_label", max_iterations=50, stats=ml_stats
        ).collect()
    }
    assert got_star == got_ml == want
    assert star_stats["rounds"] < ml_stats["rounds"]
    assert star_stats["rounds"] <= 8  # ~log₂(16) + fixpoint-detect rounds


def test_connected_components_empty_pairs_converge_fast(spark):
    """SUM over zero rows observes NULL; before the coalesce, an empty
    edge set never satisfied changed == 0 and the min-label loop spun
    all max_iterations rounds (r03 ADVICE).  Both algorithms must
    return empty and stop within 2 rounds."""
    from square_etl_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    for algo, cap in [("min_label", 1), ("star", 2)]:
        stats = {}
        out = connected_components(empty, algorithm=algo, stats=stats)
        assert out.count() == 0
        assert stats["rounds"] <= cap, (algo, stats)


def test_connected_components_raises_when_rounds_run_out(spark):
    """Labels short of the fixpoint split a component silently: a
    30-hop chain needs more than 5 rounds of either algorithm, so both
    must raise instead of returning them."""
    import pytest

    from square_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    for algo in ("min_label", "star"):
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, algorithm=algo, max_iterations=5)


def test_connected_components_seeds_round_one_with_the_edges(spark):
    """On disjoint triangles min_label runs two actions — the edge
    materialization that also seeds round one, and round two finding
    the fixpoint — which Spark runs as 7 jobs (AQE submits each
    shuffle stage as its own job).  Jobs are counted per job group
    with the statusTracker."""
    from square_etl_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    triangle = [(0, 1), (1, 2), (0, 2)]
    pairs = spark.createDataFrame(
        [(3 * t + a, 3 * t + b) for t in range(5) for a, b in triangle],
        "id_a long, id_b long",
    )
    stats = {}
    try:
        sc.setJobGroup("cc-triangles", "connected components on triangles")
        out = connected_components(pairs, stats=stats)
        jobs = len(sc.statusTracker().getJobIdsForGroup("cc-triangles"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {(r.doc_id, r.cluster_id) for r in out.collect()} == {
        (3 * t + i, 3 * t) for t in range(5) for i in range(3)
    }
    assert stats["rounds"] == 2
    assert jobs == 7, jobs


def test_minhash_banded_finds_planted_dups(spark):
    from square_etl_spark.operators.dedup import minhash_banded_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")          # 1-word edit
    other = "completely different words entirely unrelated content here now"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_banded_pairs(
            df, num_hashes=16, bands=8, threshold=0.3
        ).collect()
    }
    assert got[(1, 2)] == 1.0                         # exact dup: jaccard 1
    assert (1, 3) in got and 0.3 <= got[(1, 3)] < 1   # near dup found
    assert not any(4 in pair for pair in got)         # unrelated never pairs


def test_minhash_banded_bucket_cap_drops_hot_bucket(spark):
    from square_etl_spark.operators.dedup import minhash_banded_pairs

    # 30 identical docs → every band bucket holds all 30 → above a cap
    # of 10 every bucket is dropped and NO pairs emerge (the stop-
    # pattern semantics); with a loose cap all 435 pairs emerge.
    df = spark.createDataFrame(
        [(i, "same words repeated all over this document") for i in range(30)],
        "doc_id long, text string",
    )
    strict = minhash_banded_pairs(df, threshold=0.5, bucket_cap=10)
    loose = minhash_banded_pairs(df, threshold=0.5, bucket_cap=100)
    assert strict.count() == 0
    assert loose.count() == 30 * 29 // 2


def test_chunk_documents_overlap_and_tail(spark):
    from square_etl_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(1, 11))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "solo"), (3, "")],
                               "doc_id long, text string")
    rows = {(r.doc_id, r.chunk_idx): r
            for r in chunk_documents(df, chunk_size=4, overlap=2).collect()}
    # step=2 → chunk indices 0..4 for doc 1 (floor(9/2)=4)
    assert sorted(k for k in rows if k[0] == 1) == [(1, i) for i in range(5)]
    assert rows[(1, 0)].chunk == "w1 w2 w3 w4"
    assert rows[(1, 1)].chunk == "w3 w4 w5 w6"   # 2-token overlap
    assert rows[(1, 4)].chunk == "w9 w10" and rows[(1, 4)].n_tokens == 2
    # single short doc → one short chunk; empty doc → no chunks
    assert rows[(2, 0)].chunk == "solo" and rows[(2, 0)].n_tokens == 1
    assert not any(k[0] == 3 for k in rows)


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest
    from square_etl_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_redact_pii_rules_and_order(spark):
    from square_etl_spark.operators.text import pii_flags, redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-1.co.uk ssn 123-45-6789 tel 555.867.5309 ip 8.8.8.8 ok")],
        "id long, text string",
    )
    row = df.select(
        redact_pii("text").alias("clean"),
        *[v.alias(k) for k, v in pii_flags("text").items()],
    ).first()
    assert row.clean == "mail <EMAIL> ssn <SSN> tel <PHONE> ip <IP> ok"
    assert row.email and row.ssn and row.phone and row.ipv4
    # SSN is consumed by the SSN rule, never half-eaten by the phone rule
    assert "<PHONE>" not in row.clean.replace("tel <PHONE>", "")


def test_repetition_metrics_fractions(spark):
    from square_etl_spark.operators.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "a b a b"),        # words: 2/4 dup; 2-grams: a b, b a, a b -> 1/3 dup
            (2, "x\nx\ny"),        # lines: 3 total, 2 distinct
            (3, ""),
        ],
        "id long, text string",
    )
    m = repetition_metrics("text")
    rows = {r.id: r for r in df.select("id", *[v.alias(k) for k, v in m.items()]).collect()}
    assert rows[1].dup_word_frac == 0.5
    assert abs(rows[1].dup_2gram_frac - (1 - 2 / 3)) < 1e-15
    assert rows[2].n_lines == 3 and abs(rows[2].dup_line_frac - (1 - 2 / 3)) < 1e-15
    assert rows[3].n_lines == 0 and rows[3].dup_word_frac == 0.0


def test_decontaminate_drops_only_contaminated(spark):
    from square_etl_spark.operators.dedup import contamination_hits, decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),
            (2, "totally unrelated spark engine text here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox runs")], "doc_id long, text string"
    )
    hits = {r.doc_id: r.n_hits for r in contamination_hits(corpus, bench).collect()}
    assert hits == {1: 1}  # shares exactly the 'quick brown fox' 3-gram
    kept = [r.doc_id for r in decontaminate(corpus, bench).collect()]
    assert kept == [2]


def test_bucketed_embedding_dedup_is_exact_subset(spark, sf_dir):
    """LSH bucketing trades recall, never precision: every pair the
    bucketed operator returns must appear in the all-pairs exact result
    with the identical rounded cosine, and recall at the fixture's
    0.35-threshold band must be in the analytically expected range."""
    from square_etl_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_bucketed,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_cosine_pairs(e, dim=64, threshold=0.35).collect()
    }
    bucketed = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_cosine_pairs_bucketed(
            e, dim=64, threshold=0.35, bits=4, n_tables=8
        ).collect()
    }
    assert set(bucketed) <= set(exact)
    for pair, sim in bucketed.items():
        assert sim == exact[pair]
    # recall ≈ 1-(1-p^4)^8 with p = 1-acos(s)/pi; ~0.7 at s=0.35
    assert len(bucketed) >= 0.5 * len(exact)


def test_bucketed_embedding_dedup_bucket_cap_drops_hot_buckets(spark, sf_dir):
    from square_etl_spark.operators.dedup import embedding_cosine_pairs_bucketed

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    capped = embedding_cosine_pairs_bucketed(
        e, dim=64, threshold=0.35, bits=4, n_tables=8, bucket_cap=10
    ).count()
    uncapped = embedding_cosine_pairs_bucketed(
        e, dim=64, threshold=0.35, bits=4, n_tables=8
    ).count()
    assert capped <= uncapped  # cap only removes candidates


def test_portable_hashing_matches_python_reference(spark):
    """The md5/affine hash recipe behind the r05 oracle upgrades
    (fingerprint64, simhash64, portable_word_shingles + the minhash
    permutation family) pinned against an independent pure-Python
    implementation — the same recipe the DuckDB oracles embed."""
    import hashlib

    from pyspark.sql import functions as F

    from square_etl_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        portable_word_shingles,
        simhash64,
    )
    from square_etl_spark.operators.text import fingerprint64

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "a b c d e f g",
        "",
        "  one  ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    got = {
        r.id: r
        for r in df.select(
            "id",
            fingerprint64("text").alias("fp"),
            simhash64("text").alias("sig"),
            portable_word_shingles("text", 3).alias("sh"),
        ).collect()
    }

    M = (1 << 57) - 1

    def h32(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16)

    def h64(w):
        v = int(hashlib.md5(w.encode()).hexdigest()[:16], 16)
        return v - (1 << 64) if v >= (1 << 63) else v

    for i, t in enumerate(texts):
        words = t.strip().split()
        fp = 0
        for w in words:
            fp = (fp * 31 + h32(w)) & M
        assert got[i].fp == fp, ("fingerprint", t)
        sig = 0
        for j in range(64):
            vote = sum(1 if (h64(w) >> j) & 1 else -1 for w in words)
            if vote > 0:
                sig |= 1 << j
        assert got[i].sig == (sig - (1 << 64) if sig >= (1 << 63) else sig), (
            "simhash", t)
        sh, seen = [], set()
        for j in range(max(0, len(words) - 2)):
            v = ((h32(words[j]) * 31 + h32(words[j + 1])) & M) * 31
            v = (v + h32(words[j + 2])) & M
            if v not in seen:
                seen.add(v)
                sh.append(v)
        assert got[i].sh == sh, ("shingles", t)

    # the permutation family over one shingle hash, Spark vs python
    s = got[0].sh[0]
    mins = (
        df.filter(F.col("id") == 0)
        .select(portable_word_shingles("text", 3).alias("sh"))
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: F.array_min(
                    F.transform(
                        F.col("sh"),
                        lambda x: (
                            F.element_at(
                                F.array(*[F.lit(a).cast("long") for a in MINHASH_A]),
                                i + 1,
                            ) * x.bitwiseAND(F.lit(0xFFFFFFFF))
                            + F.element_at(
                                F.array(*[F.lit(b).cast("long") for b in MINHASH_B]),
                                i + 1,
                            )
                        ) % F.lit(MINHASH_P),
                    )
                ),
            ).alias("mins")
        )
        .collect()[0]
        .mins
    )
    sh0 = got[0].sh
    want = [
        min((MINHASH_A[i] * (x & 0xFFFFFFFF) + MINHASH_B[i]) % MINHASH_P
            for x in sh0)
        for i in range(16)
    ]
    assert mins == want


def test_minhash_arbitrary_num_hashes(spark):
    """num_hashes beyond the 16 literal constants works: the constant
    generator extends the family deterministically (fixed LCG), the
    first 16 stay the oracle-embedded literals, and every generated A
    stays in [1, 2^25) so A·x never overflows a long in ANSI mode."""
    from square_etl_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        _minhash_constants,
        minhash_banded_pairs,
    )

    a32, b32 = _minhash_constants(32)
    assert a32[:16] == MINHASH_A and b32[:16] == MINHASH_B
    assert a32 == _minhash_constants(32)[0]  # deterministic
    assert all(1 <= a < (1 << 25) for a in a32)
    assert all(0 <= b < MINHASH_P for b in b32)
    assert len(set(zip(a32, b32))) == 32

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "entirely different unrelated words here")],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_banded_pairs(
            df, num_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    assert got == {(1, 2): 1.0}


def test_survivor_selection_keeps_best_quality(spark):
    """Per near-dup cluster exactly one survivor: the max-quality
    member, ties to smallest id; docs in no pair are singletons and
    always kept."""
    from pyspark.sql import functions as F

    from square_etl_spark.operators.dedup import survivor_selection

    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (5, 0.1)],
        "doc_id long, q double",
    )
    # cluster {1,2,3} (transitive via 1-2, 2-3); {4} and {5} singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    ).withColumn("jaccard", F.lit(1.0))
    out = {
        r.doc_id: (r.cluster_id, r.q, r.keep)
        for r in survivor_selection(scored, pairs, "doc_id", "q").collect()
    }
    assert len(out) == 5
    assert out[1] == (1, 0.2, False)
    assert out[2] == (1, 0.9, True)   # 0.9 tie with doc 3 → smaller id wins
    assert out[3] == (1, 0.9, False)
    assert out[4] == (4, 0.5, True)   # singleton keeps itself
    assert out[5] == (5, 0.1, True)
    assert sum(1 for _, _, k in out.values() if k) == 3


def test_strip_markup_blocks_tags_entities_collapse(spark):
    from square_etl_spark.operators.text import strip_markup

    cases = spark.createDataFrame(
        [
            (1, "<p>hello   <b>world</b></p>"),
            (2, "<style>body{x:1}</style>keep<script>var a;</script>me"),
            (3, "a &amp;&nbsp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;"),
            (4, "<!-- gone --><div class='x'>text</div>"),
            (5, "plain unchanged text"),
        ],
        "id long, raw string",
    )
    got = {
        r.id: r.clean
        for r in cases.select("id", strip_markup("raw").alias("clean")).collect()
    }
    assert got[1] == "hello world"
    assert got[2] == "keep me"
    assert got[3] == 'a & b <tag> "q" \'s\''
    assert got[4] == "text"
    assert got[5] == "plain unchanged text"


def test_unigram_logprob_hand_computed(spark):
    """Tiny corpus with hand-computed NLLs: freq a=2 b=2 c=1, T=5;
    nll(a)=nll(b)=-ln(0.4)=0.916291, nll(c)=-ln(0.2)=1.609438."""
    from square_etl_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.avg_nll)
        for r in unigram_logprob(df).collect()
    }
    assert got[1] == (3, 0.916291)
    # (0.916291 + 1.609438) / 2 = 1.2628645 → HALF_UP → 1.262865
    assert got[2] == (2, 1.262865)


def test_bigram_logprob_hand_computed(spark):
    """Corpus 'a b a b' + 'b a': pairs (a,b)x2, (b,a)x2.
    followers(a)=2 with only (a,b) -> P(b|a)=1, nll 0; same for (b,a).
    Every transition is certain, so both docs score 0."""
    from square_etl_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.avg_nll)
        for r in bigram_logprob(df).collect()
    }
    assert got == {1: (3, 0.0), 2: (1, 0.0)}


def test_bigram_logprob_penalizes_unlikely_transitions(spark):
    """The discriminating property vs unigram scoring: a doc made of
    COMMON tokens in a rare order must score higher than the docs
    whose order the corpus follows — unigram NLL cannot see this."""
    from square_etl_spark.operators.text import bigram_logprob, unigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((99, "mat the on sat cat the"))  # same tokens, rare order
    df = spark.createDataFrame(rows, "doc_id long, text string")
    big = {r.doc_id: r.avg_nll for r in bigram_logprob(df).collect()}
    uni = {r.doc_id: r.avg_nll for r in unigram_logprob(df).collect()}
    assert big[99] > big[0]           # bigram flags the shuffle
    assert uni[99] == uni[0]          # unigram is blind to it


def test_bigram_logprob_single_token_docs_yield_no_row(spark):
    from square_etl_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "only"), (2, "two words")], "doc_id long, text string"
    )
    assert [r.doc_id for r in bigram_logprob(df).collect()] == [2]


def test_lm_broadcast_gate_flips_to_shuffle_join(spark):
    """r07 verdict: the LM model relations (vocab / distinct bigrams)
    are corpus-derived, NOT bounded by construction — the broadcast
    must be size-gated.  Below the threshold the probe join is a BHJ;
    with the threshold forced to 0 the SAME query carries no forced
    hint and returns identical values.  autoBroadcastJoinThreshold is
    disabled so the planner can't stats-convert on its own — then a
    BHJ in the plan proves a HINT, its absence proves the gate closed
    (at real scale AQE's runtime stats make the same call, which is
    the point: the decision is size-driven, not forced)."""
    from square_etl_spark.operators.text import bigram_logprob, unigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b a c a"), (3, "c c b a")],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for op in (unigram_logprob, bigram_logprob):
            small = op(df)  # model under the default gate → hint → BHJ
            assert "BroadcastHashJoin" in small._jdf.queryExecution().executedPlan().toString()
            gated = op(df, max_broadcast_rows=0)  # forced past the gate
            plan = gated._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan, op.__name__
            assert sorted(map(tuple, small.collect())) == sorted(
                map(tuple, gated.collect())
            ), op.__name__
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_survivor_selection_custom_id_column(spark):
    """Regression (r06 review): id_col other than 'doc_id' must work —
    connected_components' fixed output key is renamed to match."""
    from square_etl_spark.operators.dedup import survivor_selection

    df = spark.createDataFrame(
        [(10, 0.5), (11, 0.9), (12, 0.7)], "media_id long, q double"
    )
    pairs = spark.createDataFrame([(10, 11)], "id_a long, id_b long")
    out = {
        r["media_id"]: r["keep"]
        for r in survivor_selection(df, pairs, id_col="media_id").collect()
    }
    assert out == {10: False, 11: True, 12: True}


def test_char_entropy_hand_computed(spark):
    """'aabb' → H = 1 bit exactly; 'aaaa' → 0 bits; empty → no row."""
    from square_etl_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aabb"), (2, "aaaa"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_chars, r.entropy_bits)
        for r in char_entropy(df).collect()
    }
    assert got == {1: (4, 1.0), 2: (4, 0.0)}


def test_char_entropy_uniform_alphabet(spark):
    """k equally-frequent chars → log2(k) bits (within rounding)."""
    from square_etl_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "abcdefgh")], "doc_id long, text string"
    )
    r = char_entropy(df).collect()[0]
    assert r.n_chars == 8
    assert abs(r.entropy_bits - 3.0) < 1e-6


def test_incremental_exact_dedup_fold_equals_one_shot(spark):
    """Folding batches through the digest state must keep exactly the
    batch-then-id winners: a duplicate in a LATER batch never wins,
    in-batch duplicates resolve to min id."""
    from square_etl_spark.operators.dedup import incremental_exact_dedup

    rows = [
        (1, "alpha"), (2, "beta"), (3, "alpha"),   # batch-internal dup
        (11, "beta"),                               # dup of earlier batch
        (12, "gamma"), (22, "gamma"), (23, "delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    state, kept_ids = None, []
    for lo, hi in [(1, 10), (11, 20), (21, 30)]:
        batch = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
        kept, state = incremental_exact_dedup(state, batch)
        kept_ids.extend(r["doc_id"] for r in kept.collect())
    assert sorted(kept_ids) == [1, 2, 12, 23]
    # state holds one digest per distinct content, owned by the winner
    st = {r["doc_id"] for r in state.collect()}
    assert st == {1, 2, 12, 23}


def test_minhash_probe_finds_new_old_pairs_only(spark):
    """The probe reports NEW×OLD near-dups only: a new doc duplicating
    an old one is caught; two new duplicates of each other are not
    (in-batch dedup is a separate pass by design)."""
    from square_etl_spark.operators.dedup import minhash_index, minhash_probe

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words about spark engines at scale here"
    rows = [
        (1, base), (2, other),                  # old corpus
        (3, base), (6, base),                   # new batch: 3 dups 1; 6 dups 3 (both new)
        (9, "unrelated fresh content with many novel tokens in play"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = df.filter(F.col("doc_id") <= 2)
    new = df.filter(F.col("doc_id") >= 3)
    sh, idx = minhash_index(old)
    pairs = {
        (r["new_id"], r["old_id"])
        for r in minhash_probe(sh, idx, new, threshold=0.8).collect()
    }
    assert (3, 1) in pairs and (6, 1) in pairs
    assert all(old_id <= 2 and new_id >= 3 for new_id, old_id in pairs)


def test_span_dedup_strips_repeated_boilerplate(spark):
    """A boilerplate span repeated across docs survives only in its
    first host; unique content is untouched; an exact-dup doc
    disappears entirely."""
    from square_etl_spark.operators.dedup import span_dedup

    boiler = "one two three four five"
    rows = [
        (1, boiler + " alpha beta gamma delta eps"),
        (2, boiler + " zeta eta theta iota kappa"),   # repeats span 0 of doc 1
        (3, boiler + " alpha beta gamma delta eps"),  # exact dup of doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans_kept"], r["cleaned_text"])
        for r in span_dedup(df, span_words=5).collect()
    }
    assert got[1] == (2, boiler + " alpha beta gamma delta eps")
    assert got[2] == (1, "zeta eta theta iota kappa")  # boilerplate stripped
    assert 3 not in got  # every span seen earlier → doc gone


def test_minhash_index_roundtrips_through_parquet(spark, tmp_path):
    """Deployment story of the incremental index: the shingle store
    and bucket index are WRITTEN at ingest and probed from storage —
    a probe against the parquet round-trip must equal the in-memory
    probe exactly."""
    import os

    from square_etl_spark.operators.dedup import minhash_index, minhash_probe

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, "totally different text with its own words here")]
    old = spark.createDataFrame(rows, "doc_id long, text string")
    new = spark.createDataFrame(
        [(3, base)], "doc_id long, text string"
    )
    sh, idx = minhash_index(old)
    shp = os.path.join(tmp_path, "sh")
    idxp = os.path.join(tmp_path, "idx")
    sh.write.parquet(shp)
    idx.write.parquet(idxp)
    stored = minhash_probe(
        spark.read.parquet(shp), spark.read.parquet(idxp), new,
        threshold=0.8,
    )
    live = minhash_probe(sh, idx, new, threshold=0.8)
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, live.collect())
    ) == [(3, 1, 1.0)]


def test_prefix_jaccard_lossless_vs_exhaustive(spark, sf_dir):
    """The prefix filter's whole contract: for jaccard ≥ t its output
    EQUALS the exhaustive (uncapped) postings join — no recall
    argument, set equality — while touching fewer postings rows."""
    from square_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = 0.5
    pruned = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_prefix(d, threshold=t).collect()
    }
    exhaustive = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            d, threshold=t, df_cap=None
        ).collect()
    }
    assert pruned == exhaustive
    assert len(pruned) > 0  # fixtures contain planted near-dups


def test_source_overlap_matrix_cross_and_diagonal(spark, sf_dir):
    """Planted three-source corpus (r12 semantics: word 13-gram
    shingle overlap, no longer whole-content digests — the exact-dup
    matrix was vacuous at the sf0.01 driver scale): a 13-word passage
    shared across src A/B lands in the cross cell (exactly one
    shingle), a passage duplicated in two docs WITHIN src C lands on
    the diagonal, short/unique contents appear nowhere."""
    from square_etl_spark.queries import _source_overlap_matrix

    passage = " ".join(f"w{i}" for i in range(13))  # exactly one 13-gram
    cpass = " ".join(f"c{i}" for i in range(13))
    rows = [
        (1, passage, "A"), (2, passage, "B"),
        (3, cpass, "C"), (4, cpass, "C"),
        (5, "only a", "A"), (6, "only b", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    import square_etl_spark.io as io_mod
    orig = io_mod.load_table
    try:
        io_mod.load_table = lambda s, d, t: df  # noqa: ARG005
        import square_etl_spark.queries as q
        q_orig = q.load_table
        q.load_table = io_mod.load_table
        try:
            got = {
                (r.source_a, r.source_b): r.n_shared_shingles
                for r in _source_overlap_matrix(spark, "unused").collect()
            }
        finally:
            q.load_table = q_orig
    finally:
        io_mod.load_table = orig
    assert got == {("A", "B"): 1, ("C", "C"): 1}

def test_minhash_probe_caps_hot_batch_bucket(spark):
    """r08 ADVICE: bucket_cap guarded only the INDEX side — a skewed
    ingest batch (many near-identical boilerplate docs in one
    (band, bhash) bucket) could still blow up the candidate join.
    Batch-side buckets above new_bucket_cap are now dropped too."""
    from square_etl_spark.operators.dedup import minhash_index, minhash_probe

    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame([(1, base)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(i, base) for i in range(100, 130)], "doc_id long, text string"
    )
    sh, idx = minhash_index(old)
    # default caps (200) keep the bucket: every new dup pairs with old 1
    assert minhash_probe(sh, idx, new, threshold=0.8).count() == 30
    # cap forced below the batch bucket size (30 identical docs share
    # every band bucket): the hot batch bucket is dropped, candidates
    # stay bounded instead of exploding
    assert (
        minhash_probe(sh, idx, new, threshold=0.8, new_bucket_cap=10).count()
        == 0
    )


def test_contamination_hits_shuffle_variant_matches_broadcast(spark):
    """r08 ADVICE (medium): corpus-sized 'benchmark' sides must not be
    force-broadcast.  broadcast_benchmark=False returns identical hits
    via a plain shuffle equi-join — and with the planner's auto
    conversion disabled, its plan carries no forced BroadcastHashJoin."""
    from square_etl_spark.operators.dedup import contamination_hits

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "totally novel words without any overlap here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(91, "beta gamma delta epsilon"), (92, "two three four five")],
        "doc_id long, text string",
    )
    bc = contamination_hits(corpus, bench)
    sj = contamination_hits(corpus, bench, broadcast_benchmark=False)
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sj.collect()))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            contamination_hits(corpus, bench, broadcast_benchmark=False)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_lm_scoring_leaves_no_cache_entries(spark):
    """r08 ADVICE: the size-gate persisted the model relation and never
    unpersisted — every unigram/bigram scoring call leaked one
    CacheManager entry for the session lifetime.  The localCheckpoint
    gate registers nothing in the CacheManager (its blocks are RDD-
    scoped, released by the ContextCleaner with the result)."""
    from square_etl_spark.operators.text import bigram_logprob, unigram_logprob

    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [(1, "a b c a b"), (2, "b c d e f")], "doc_id long, text string"
    )
    unigram_logprob(df).count()
    bigram_logprob(df).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_incremental_span_dedup_fold_batch_precedence(spark):
    """Fold ≡ one-shot with BATCH-then-(doc, pos) precedence: a span
    kept by an earlier batch beats a lower doc_id arriving later (the
    one-shot over the concatenation in batch order), boilerplate is
    stripped across batches, and a batch doc whose every span is seen
    before disappears.  State stays keys-sized."""
    from square_etl_spark.operators.dedup import incremental_span_dedup

    boiler = "one two three four five"
    rows = [
        (1, boiler + " alpha beta gamma delta eps"),      # batch 1
        (2, boiler + " zeta eta theta iota kappa"),       # batch 0
        (4, "unique content here entirely novel words"),  # batch 0
        (3, boiler + " alpha beta gamma delta eps"),      # batch 1, dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    state, out = None, {}
    for b in range(2):
        kept, state = incremental_span_dedup(
            state, df.filter(F.col("doc_id") % 2 == b), span_words=5
        )
        for r in kept.collect():
            out[r["doc_id"]] = (r["n_spans_kept"], r["cleaned_text"])
    # batch 0 owns the boilerplate span although doc 1 has a lower id —
    # batch precedence, NOT global doc order
    assert out[2] == (2, boiler + " zeta eta theta iota kappa")
    assert out[4] == (2, "unique content here entirely novel words")
    # doc 1 (batch 1): boilerplate already owned by batch 0 → stripped
    assert out[1] == (1, "alpha beta gamma delta eps")
    # doc 3: every span seen earlier → doc gone entirely
    assert 3 not in out
    # state is keys-sized: one row per DISTINCT span ever kept
    assert state.count() == 5
    assert state.columns == ["span_sha256", "doc_id", "idx"]


def test_strip_repeated_spans_kills_all_occurrences(spark):
    """The kill-all policy: a span in >1 DISTINCT docs is removed from
    EVERY doc (including the first — contrast span_dedup's keep-first);
    within-doc repetition alone does not trip the distinct-doc
    threshold; an all-boilerplate doc disappears."""
    from square_etl_spark.operators.dedup import strip_repeated_spans

    boiler = "one two three four five"
    uniq = "alpha beta gamma delta eps"
    rows = [
        (1, boiler + " " + uniq),
        (2, boiler),                          # all boilerplate → vanishes
        (3, uniq + " " + uniq),               # within-doc repeat: 1 doc only → kept
    ]
    # wait: doc 1 and doc 3 share the `uniq` span → 2 distinct docs → killed
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans_kept"], r["cleaned_text"])
        for r in strip_repeated_spans(df, span_words=5).collect()
    }
    # boiler: docs {1,2} → killed everywhere; uniq: docs {1,3} → killed
    assert got == {}

    rows2 = [
        (1, boiler + " " + uniq),
        (2, boiler + " zeta eta theta iota kappa"),
        (3, "solo words entirely unshared here " + "solo words entirely unshared here"),
    ]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = {
        r["doc_id"]: (r["n_spans_kept"], r["cleaned_text"])
        for r in strip_repeated_spans(df2, span_words=5).collect()
    }
    # boiler killed in BOTH 1 and 2 (no survivor); unique tails kept;
    # doc 3's span repeats only within itself → both occurrences kept
    assert got2[1] == (1, uniq)
    assert got2[2] == (1, "zeta eta theta iota kappa")
    assert got2[3] == (
        2,
        "solo words entirely unshared here solo words entirely unshared here",
    )


def test_novelty_contribution_hand_computed(spark):
    """Doc 1 owns all its shingles (first occurrence); an exact copy
    with a higher id owns none; a half-overlapping doc owns exactly
    its fresh shingles."""
    from square_etl_spark.queries import queries  # exercised via registry

    from square_etl_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # shingles: abc, bcd
            (2, "a b c d"),          # copy → 0 novel
            (3, "c d e"),            # cde → novel (abc/bcd absent here)
        ],
        "doc_id long, text string",
    )
    sh = df.select("doc_id", F.explode(word_shingles("text", 3)).alias("sh"))
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("__first"))
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"])
        for r in sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("__first") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .collect()
    }
    assert out == {1: (2, 2), 2: (2, 0), 3: (1, 1)}


def test_incremental_components_fold_merges_and_relabels(spark):
    """Fold ≡ one-shot: batch 2's bridge edge merges two clusters built
    in batch 1, the canonical id drops to the merged minimum, a NEW
    doc with the smallest id takes over as cluster id, and an
    externally-supplied singleton label survives folds untouched."""
    from square_etl_spark.operators.dedup import (
        connected_components,
        incremental_components,
    )

    p = lambda rows: spark.createDataFrame(rows, "id_a long, id_b long")
    b1 = p([(10, 11), (20, 21)])          # two clusters: {10,11}, {20,21}
    b2 = p([(11, 20)])                    # bridge: merge into {10,11,20,21}
    b3 = p([(1, 21)])                     # new doc 1 joins -> min becomes 1
    labels = None
    for b in (b1, b2, b3):
        labels = incremental_components(labels, b)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {1: 1, 10: 1, 11: 1, 20: 1, 21: 1}
    # one-shot over the union agrees
    oneshot = connected_components(p([(10, 11), (20, 21), (11, 20), (1, 21)]))
    assert {r["doc_id"]: r["cluster_id"] for r in oneshot.collect()} == got
    # external singleton labels pass through unless a new edge claims them
    seeded = spark.createDataFrame(
        [(99, 99), (10, 10), (11, 10)], "doc_id long, cluster_id long"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_components(seeded, p([(11, 12)])).collect()
    }
    assert out == {99: 99, 10: 10, 11: 10, 12: 10}


def test_bm25_scores_match_python_mirror(spark):
    """BM25 scores equal a pure-python mirror of the Lucene-variant
    formula (same 9-decimal contribution rounding, 6-decimal total);
    docs hitting zero query terms emit no row."""
    import math

    from square_etl_spark.operators.text import bm25_scores

    corpus = {
        1: "spark join spark",
        2: "merge conflict handling",
        3: "nothing relevant here",
        4: "spark",
    }
    terms = ["spark", "join", "merge"]
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_terms_hit, r.bm25)
        for r in bm25_scores(df, terms).collect()
    }

    toks = {d: t.split() for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n
    dfreq = {t: sum(t in w for w in toks.values()) for t in terms}
    exp = {}
    for d, ws in toks.items():
        hits = [t for t in terms if t in ws]
        if not hits:
            continue
        score = 0.0
        for t in hits:
            tf = ws.count(t)
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            score += round(
                idf * tf * 2.2
                / (tf + 1.2 * (0.25 + 0.75 * len(ws) / avgdl)),
                9,
            )
        exp[d] = (len(hits), round(score, 6))
    assert got == exp
    assert 3 not in got  # zero-hit doc emits no row


def test_bm25_scores_rare_term_outranks_common(spark):
    """A term appearing in one doc carries a higher IDF than a term
    in every doc — the rare-term doc outscores equal-tf common-term
    docs of the same length."""
    from square_etl_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "alpha gamma"),
            (3, "alpha delta"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.bm25
        for r in bm25_scores(df, ["alpha", "beta"]).collect()
    }
    assert got[1] > got[2] == got[3]


def test_bm25_scores_empty_terms_raise(spark):
    import pytest as _pytest

    from square_etl_spark.operators.text import bm25_scores

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bm25_scores(df, [])


def test_gopher_rules_each_rule_fires_on_its_planted_doc(spark):
    """One planted violation per Gopher rule; a clean English doc
    passes all seven; empty text fails word-count with NULL ratios."""
    from square_etl_spark.operators.text import gopher_rules

    good = (
        "the quick brown fox jumps over that lazy dog and we have "
        "plenty of words here to clear the minimum count for sure"
    )
    docs = [
        (1, good),                                     # passes all
        (2, "too few words"),                          # word count
        (3, " ".join(["ab"] * 20)),                    # mean word len < 3
        (4, good + " " + "#" * 1 + " ## ## ## ## #"),  # symbol ratio
        (5, "\n".join(["- " + good] * 10)),            # bullet lines
        (6, "\n".join([good + "..."] * 10)),           # ellipsis lines
        (7, good + " " + " ".join(["123"] * 30)),      # alpha words
        (8, " ".join(["word"] * 20)),                  # no stopwords
        (9, ""),                                       # empty
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r.asDict() for r in gopher_rules(df).collect()}

    assert out[1]["pass_all"] is True
    assert out[2]["pass_word_count"] is False
    assert out[3]["pass_mean_word_len"] is False
    assert out[4]["pass_symbol_ratio"] is False
    assert out[5]["pass_bullet_ratio"] is False and out[5]["bullet_ratio"] == 1.0
    assert out[6]["pass_ellipsis_ratio"] is False
    assert out[7]["pass_alpha_words"] is False
    assert out[8]["pass_stopwords"] is False and out[8]["stopword_hits"] == 0
    assert out[9]["pass_word_count"] is False
    assert out[9]["mean_word_len"] is None  # no div-by-zero, NULL ratio
    for d in range(2, 10):
        assert out[d]["pass_all"] is False
    # the clean doc's stopword hits: the/that/and/have/of/to >= 2
    assert out[1]["stopword_hits"] >= 2


def test_unigram_counts_fold_equals_one_shot_and_scores_identically(
    spark, sf_dir
):
    """The (w, c) LM state is a sum monoid: folding batch counts in
    any split equals the one-shot corpus count element-for-element,
    and scoring through model_counts reproduces the self-computed
    path bit-for-bit — the incremental-DoReMi contract."""
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.text import (
        fold_unigram_counts,
        unigram_counts,
        unigram_logprob,
    )

    d = load_table(spark, sf_dir, "documents").filter("doc_id < 120")
    one_shot = unigram_counts(d, "text")
    state = None
    for i in range(4):
        b = unigram_counts(d.filter(F.col("doc_id") % 4 == i), "text")
        state = b if state is None else fold_unigram_counts(state, b)
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, one_shot.collect())
    )

    via_model = unigram_logprob(d, "doc_id", "text", model_counts=state)
    self_computed = unigram_logprob(d, "doc_id", "text")
    assert sorted(map(tuple, via_model.collect())) == sorted(
        map(tuple, self_computed.collect())
    )


# ---------------------------------------------------------------------------
# BPE tokenizer-faithful token counts
# ---------------------------------------------------------------------------


def _ref_bpe(word: str) -> list[str]:
    """Reference fold: one-merge-at-a-time, leftmost occurrence of the
    minimum-rank pair — the textbook BPE apply the DuckDB oracle's
    recursive CTE implements."""
    from square_etl_spark.operators.text import BPE_MERGES

    ranks = {f"{a} {b}": i + 1 for i, (a, b) in enumerate(BPE_MERGES)}
    sym = list(word)
    while True:
        pr = [ranks.get(f"{sym[i]} {sym[i + 1]}", 0) for i in range(len(sym) - 1)]
        present = [r for r in pr if r > 0]
        if not present:
            return sym
        pos = pr.index(min(present))
        sym = sym[:pos] + [sym[pos] + sym[pos + 1]] + sym[pos + 2 :]


def test_bpe_merges_list_is_valid():
    """Every multi-char merge component must be the result of an
    EARLIER merge — the property that makes all-occurrences-per-round
    (Spark) and one-at-a-time (oracle) reach the same fixpoint."""
    from square_etl_spark.operators.text import BPE_MERGES

    formed: set[str] = set()
    for a, b in BPE_MERGES:
        for comp in (a, b):
            assert len(comp) == 1 or comp in formed, (
                f"merge ({a!r},{b!r}): component {comp!r} not formed earlier"
            )
        formed.add(a + b)
    # ranks must be unique pairs (no duplicate merges)
    assert len({(a, b) for a, b in BPE_MERGES}) == len(BPE_MERGES)


def test_bpe_apply_vocab_equals_reference_fold(spark):
    """Adversarial vocabulary: overlap runs (ll), nested merges
    (th→the→that), multi-round words, digits/punct, 1-char words."""
    from square_etl_spark.operators.text import bpe_apply_vocab

    words = [
        "the", "that", "with", "thather", "and", "standing",
        "lllll", "llll", "lll", "ll", "l",
        "queen", "understanding", "q", "7", "!", "x1",
        "forever", "wasp", "ionic", "examine",
    ]
    v = spark.createDataFrame([(w,) for w in words], "word string")
    got = {r["word"]: (list(r["tokens"]), r["n_tokens"])
           for r in bpe_apply_vocab(v).collect()}
    for w in words:
        exp = _ref_bpe(w)
        assert got[w] == (exp, len(exp)), (w, got[w], exp)


def test_bpe_token_counts_sums_and_empty_docs(spark):
    from square_etl_spark.operators.text import bpe_token_counts

    docs = spark.createDataFrame(
        [(1, "The queen was standing."), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_pretokens"], r["bpe_tokens"])
           for r in bpe_token_counts(docs).collect()}
    # 'the'(1) 'queen'(3: qu e en) 'was'(1) 'standing'(3: st and ing) '.'(1)
    assert got[1] == (5, 9)
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)


def test_bpe_apply_vocab_raises_past_max_rounds(spark):
    from square_etl_spark.operators.text import bpe_apply_vocab
    import pytest as _pytest

    v = spark.createDataFrame([("understanding",)], "word string")
    with _pytest.raises(RuntimeError, match="fixpoint"):
        bpe_apply_vocab(v, max_rounds=1)


def test_fuzzy_decontamination_catches_paraphrase_exact_ngrams_miss(spark):
    """A benchmark doc lightly edited every ~10 words: every 13-gram
    is broken (exact decontamination misses it) but 3-gram shingle
    jaccard stays high (fuzzy catches it).  Kill semantics drop
    exactly the paraphrase."""
    from square_etl_spark.operators.dedup import (
        contamination_hits,
        decontaminate_fuzzy,
        fuzzy_contamination_pairs,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    ).split()
    para = list(base)
    for pos in (5, 15, 25):  # break every 13-gram, keep most 3-grams
        para[pos] = para[pos] + "x"
    bench = spark.createDataFrame([(100, " ".join(base))], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, " ".join(para)),
            (2, "totally unrelated words about spark shuffles and parquet files"),
        ],
        "doc_id long, text string",
    )
    # exact 13-gram decontamination misses the paraphrase
    exact = contamination_hits(corpus, bench, "doc_id", "text", n=13).collect()
    assert exact == []
    # fuzzy catches it, with a high verified jaccard
    pairs = fuzzy_contamination_pairs(
        corpus, bench, threshold=0.4
    ).collect()
    assert [(p["corpus_id"], p["bench_id"]) for p in pairs] == [(1, 100)]
    assert pairs[0]["jaccard"] >= 0.4
    # and the kill path drops exactly the paraphrase
    kept = decontaminate_fuzzy(corpus, bench, threshold=0.4)
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_substring_dedup_strips_repeated_run_keeps_first(spark):
    """A 6-token run planted verbatim in two docs: with window=6 the
    second occurrence's covered tokens vanish, the first survives,
    unique text is untouched, and a short doc passes through."""
    from square_etl_spark.operators.dedup import substring_dedup

    run = "one two three four five six"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {run} beta"),
            (2, f"gamma delta {run} epsilon"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in substring_dedup(
        docs, window_tokens=6).collect()}
    assert got[1]["cleaned_text"] == f"alpha {run} beta"
    assert got[2]["cleaned_text"] == "gamma delta epsilon"
    assert (got[2]["n_words"], got[2]["n_kept"]) == (9, 3)
    assert got[3]["cleaned_text"] == "tiny doc" and got[3]["n_kept"] == 2


def test_substring_dedup_overlapping_windows_kill_whole_region(spark):
    """An 8-token duplicate region under window=6 produces three
    overlapping duplicate windows whose union covers all 8 tokens."""
    from square_etl_spark.operators.dedup import substring_dedup

    region = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [(1, region), (2, f"x {region} y")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in substring_dedup(
        docs, window_tokens=6).collect()}
    assert got[1]["cleaned_text"] == region
    assert got[2]["cleaned_text"] == "x y"


def test_substring_dedup_all_killed_doc_keeps_empty_row(spark):
    from square_etl_spark.operators.dedup import substring_dedup

    t = "a1 a2 a3 a4 a5 a6"
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in substring_dedup(
        docs, window_tokens=6).collect()}
    assert got[1]["n_kept"] == 6
    assert got[2]["n_kept"] == 0 and got[2]["cleaned_text"] == ""


def test_incremental_substring_fold_equals_one_shot(spark, sf_dir):
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.dedup import (
        incremental_substring_dedup,
        substring_dedup,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 90)
    one = {
        (r["doc_id"], r["n_words"], r["n_kept"], r["cleaned_text"])
        for r in substring_dedup(d, window_tokens=10).collect()
    }
    state, got = None, set()
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        batch = d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        cleaned, state = incremental_substring_dedup(
            state, batch, window_tokens=10
        )
        state = state.localCheckpoint(eager=True)
        got |= {
            (r["doc_id"], r["n_words"], r["n_kept"], r["cleaned_text"])
            for r in cleaned.collect()
        }
    assert got == one


def test_incremental_substring_shared_base_equals_per_batch(spark, sf_dir):
    """The r17 split path — one _substring_base over the whole
    relation, each fold fed its filtered slice — is row-for-row the
    batch-at-a-time path (tokenize+hash is row-wise, so filter∘base ≡
    base∘filter).  This is the equivalence the registered
    dedup_incremental_substring query now leans on."""
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.dedup import (
        _substring_base,
        incremental_substring_dedup,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 90)
    base_all = _substring_base(d, "doc_id", "text", 10)

    def run(shared: bool) -> set:
        state, got = None, set()
        for lo, hi in ((0, 30), (30, 60), (60, 90)):
            pred = (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            cleaned, state = incremental_substring_dedup(
                state, None if shared else d.filter(pred),
                window_tokens=10,
                base=base_all.filter(pred) if shared else None,
            )
            state = state.localCheckpoint(eager=True)
            got |= {
                (r["doc_id"], r["n_words"], r["n_kept"], r["cleaned_text"])
                for r in cleaned.collect()
            }
        return got

    assert run(shared=True) == run(shared=False)


def test_corpus_clean_with_substring_composes(spark, sf_dir):
    """The optional pipeline stage equals substring_dedup applied to
    the clean survivor set."""
    from square_etl_spark.io import load_table
    from square_etl_spark.operators.dedup import substring_dedup
    from square_etl_spark.pipelines import (
        clean_stage_relations,
        corpus_clean_with_substring,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    got = {tuple(r) for r in corpus_clean_with_substring(
        d, substring_window=10).collect()}
    _, _, ex, nc = clean_stage_relations(d)
    clean = ex.join(nc.select("doc_id"), "doc_id", "left_anti")
    exp = {tuple(r) for r in substring_dedup(
        clean, window_tokens=10).collect()}
    assert got == exp and len(got) > 0


def test_bpe_train_matches_reference_and_feeds_apply(spark):
    """bpe_train must reproduce the Sennrich reference sequence
    (weighted overlap-naive counts, count desc / pair asc tie-break,
    all-occurrence apply) on the textbook low/lower/newest corpus,
    and the learned list must be valid + drive bpe_apply_vocab."""
    from square_etl_spark.operators.text import bpe_apply_vocab, bpe_train

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest newest widest"),
            (2, "low lowest newest"),
        ],
        "doc_id long, text string",
    )
    m = bpe_train(docs, num_merges=8)
    assert m == [
        ("w", "e"), ("l", "o"), ("s", "t"), ("we", "st"),
        ("e", "west"), ("n", "ewest"), ("lo", "w"), ("lo", "we"),
    ]
    # learned list is valid BPE order (each multi-char component
    # formed earlier) — the property the apply oracle equivalence
    # depends on
    formed: set[str] = set()
    for a, b in m:
        for comp in (a, b):
            assert len(comp) == 1 or comp in formed
        formed.add(a + b)
    v = spark.createDataFrame([("lowest",), ("newest",)], "word string")
    got = {r["word"]: list(r["tokens"])
           for r in bpe_apply_vocab(v, merges=m).collect()}
    assert got == {"lowest": ["lo", "west"], "newest": ["newest"]}


def test_bpe_train_min_count_stops_early(spark):
    from square_etl_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "ab cd ef")], "doc_id long, text string"
    )  # every pair occurs once — below min_count=2
    assert bpe_train(docs, num_merges=5) == []


def test_bpe_encode_ids_roundtrip_and_id_space(spark):
    from square_etl_spark.operators.text import (
        BPE_MERGES,
        bpe_encode_ids,
        bpe_pretokens,
    )

    docs = spark.createDataFrame(
        [(1, "The queen was standing, doing that!"), (2, "")],
        "doc_id long, text string",
    )
    rows = bpe_encode_ids(docs).orderBy("doc_id", "pos").collect()
    assert all(r["doc_id"] == 1 for r in rows)  # empty doc → no tokens
    # round-trip: concatenating tokens in stream order rebuilds the
    # pre-token stream exactly
    stream = "".join(r["token"] for r in rows)
    pre = docs.filter(F.col("doc_id") == 1).select(
        F.concat_ws("", bpe_pretokens("text")).alias("s")
    ).collect()[0]["s"]
    assert stream == pre
    # positions dense 1..n
    assert [r["pos"] for r in rows] == list(range(1, len(rows) + 1))
    # id classes: single chars get ids 1..B, merge results B+rank
    chars = sorted({c for r in rows for c in r["token"]})
    n_alpha_ids = len({r["token_id"] for r in rows if len(r["token"]) == 1})
    for r in rows:
        if len(r["token"]) == 1:
            assert 1 <= r["token_id"] <= len(chars)
        else:
            assert r["token_id"] > len(chars) - 0  # above the char block
            # and consistent with the lowest-rank producer
            producers = [
                i + 1 for i, (a, b) in enumerate(BPE_MERGES)
                if a + b == r["token"]
            ]
            assert r["token_id"] - len(chars) == min(producers)
    # same string → same id everywhere
    by_tok = {}
    for r in rows:
        assert by_tok.setdefault(r["token"], r["token_id"]) == r["token_id"]


def test_bpe_pretoken_counts_fold_equals_one_shot_and_trains_same(spark):
    from square_etl_spark.operators.text import (
        bpe_pretoken_counts,
        bpe_train,
        bpe_train_from_counts,
        fold_bpe_pretoken_counts,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest"),
            (2, "newest newest widest low"),
            (3, "lowest newest"),
        ],
        "doc_id long, text string",
    )
    one_shot_counts = {
        (r["w"], r["n"]) for r in bpe_pretoken_counts(docs).collect()
    }
    state = None
    for i in range(3):
        b = docs.filter(F.col("doc_id") == i + 1)
        state = fold_bpe_pretoken_counts(state, bpe_pretoken_counts(b))
    assert {(r["w"], r["n"]) for r in state.collect()} == one_shot_counts
    assert bpe_train_from_counts(state, num_merges=8) == bpe_train(
        docs, num_merges=8
    )


def test_byte_symbols_and_pretokens_gpt2_alphabet(spark):
    """UTF-8 bytes map to the GPT-2 byte alphabet (space='Ġ',
    multibyte chars split per byte) and the byte pre-tokenizer keeps
    case, contractions, and space prefixes — the symbol space real
    merges.txt artifacts are written in."""
    from square_etl_spark.operators.text import (
        BYTE_UNICODE,
        bpe_byte_pretokens,
        byte_symbols_sql,
    )

    assert len(BYTE_UNICODE) == len(set(BYTE_UNICODE)) == 256
    assert BYTE_UNICODE[0x20] == "Ġ"
    assert BYTE_UNICODE[0x0A] == "Ċ"
    assert BYTE_UNICODE[ord("t")] == "t"
    v = spark.createDataFrame(
        [(" the",), ("Hello",), ("é",)], "word string"
    )
    got = {
        r["word"]: list(r["sym"])
        for r in v.selectExpr(
            "word", byte_symbols_sql("word") + " as sym"
        ).collect()
    }
    assert got[" the"] == ["Ġ", "t", "h", "e"]
    assert got["Hello"] == ["H", "e", "l", "l", "o"]
    assert len(got["é"]) == 2  # two UTF-8 bytes, two symbols
    t = spark.createDataFrame(
        [("It's Fast 12 -- ok",)], "text string"
    )
    toks = t.select(bpe_byte_pretokens("text").alias("p")).collect()[0].p
    assert list(toks) == ["It", "'s", " Fast", " 12", " --", " ok"]


def test_bpe_byte_apply_loads_merges_txt_artifact(spark):
    """A merges.txt-FORMAT artifact (version header, 'Ġ'-space
    symbols) loads via load_merges_lines and drives the byte-level
    apply — the r10 verdict's artifact-compatibility gap."""
    from square_etl_spark.operators.text import (
        bpe_apply_vocab,
        load_merges_lines,
    )

    artifact = [
        "#version: 0.2",
        "Ġ t",
        "h e",
        "Ġt he",
    ]
    merges = load_merges_lines(artifact)
    assert merges == [("Ġ", "t"), ("h", "e"), ("Ġt", "he")]
    v = spark.createDataFrame([(" the",), (" them",)], "word string")
    got = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_vocab(v, merges=merges, alphabet="byte").collect()
    }
    assert got[" the"] == ["Ġthe"]
    assert got[" them"] == ["Ġthe", "m"]


def test_bpe_train_bytes_emits_merges_txt_symbols(spark):
    """Byte-level training learns 'Ġ'-prefixed merges (space carried
    as a symbol) and its output round-trips through the merges.txt
    format into the byte apply."""
    from square_etl_spark.operators.text import (
        bpe_apply_vocab,
        bpe_train,
        load_merges_lines,
    )

    docs = spark.createDataFrame(
        [(1, "the cat the cat the hat"), (2, "the cat sat")],
        "doc_id long, text string",
    )
    m = bpe_train(docs, num_merges=6, alphabet="byte")
    assert any("Ġ" in a or "Ġ" in b for a, b in m)
    lines = [f"{a} {b}" for a, b in m]
    assert load_merges_lines(lines) == m
    v = spark.createDataFrame([(" the",)], "word string")
    out = bpe_apply_vocab(v, merges=m, alphabet="byte").collect()
    assert out[0]["n_tokens"] >= 1


def test_bpe_train_batched_equals_sequential_when_disjoint(spark):
    """batch_k>1 cuts driver rounds; with well-separated, symbol-
    disjoint dominant pairs the batched list EQUALS sequential BPE,
    and batching is deterministic."""
    from square_etl_spark.operators.text import bpe_train

    text = " ".join(
        ["aa"] * 50 + ["bb"] * 40 + ["cc"] * 30 + ["dd"] * 20
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    seq = bpe_train(docs, num_merges=4)
    bat = bpe_train(docs, num_merges=4, batch_k=4)
    assert seq == bat == [("a", "a"), ("b", "b"), ("c", "c"), ("d", "d")]
    assert bat == bpe_train(docs, num_merges=4, batch_k=4)  # deterministic


def test_bpe_train_batched_respects_conflicts(spark):
    """Conflicting candidates (shared symbols / result-operand
    collisions) are deferred to a later round, never co-applied —
    the order-independence guarantee of the one-pass batch fold."""
    from square_etl_spark.operators.text import bpe_apply_vocab, bpe_train

    # 'aaa...' makes (a,a) dominant; (aa,a)-style followups conflict
    docs = spark.createDataFrame(
        [(1, " ".join(["aaaa"] * 30 + ["bbbb"] * 20))],
        "doc_id long, text string",
    )
    m = bpe_train(docs, num_merges=4, batch_k=4)
    # round 1 can take (a,a) and (b,b) (disjoint) but NOT (aa,a)/(a,aa)
    # in the same round; the fixpoint still reaches them later
    assert m[0] == ("a", "a") and ("b", "b") in m[:2]
    assert ("aa", "aa") in m or ("aa", "a") in m or ("a", "aa") in m
    # the learned list must drive apply to a fixpoint without error
    v = spark.createDataFrame([("aaaa",), ("bbbb",)], "word string")
    toks = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_vocab(v, merges=m).collect()
    }
    assert toks["aaaa"] in (["aaaa"], ["aa", "aa"])


def test_substring_dedup_null_id_doc_keeps_first_occurrences(spark):
    """A NULL-id document is a real document: its unique windows must
    survive (r11 review — the skew-guard rewrite's plain-equality
    anti join never matched NULL=NULL and erased every such doc)."""
    from square_etl_spark.operators.dedup import substring_dedup

    rows = [(None, "u1 u2 u3 u4"), (7, "a b c d"), (8, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["cleaned_text"]
        for r in substring_dedup(df, window_tokens=2).collect()
    }
    assert got[None] == "u1 u2 u3 u4"  # unique text fully kept
    assert got[7] == "a b c d"         # corpus-first occurrence
    assert got[8] == "e"               # duplicate windows stripped


def test_tokenizer_artifact_roundtrip_versioned(spark, tmp_path):
    """train → save_merges (versioned) → load_merges → apply equals
    applying the in-memory list; a retrained v2 coexists with v1
    (pinned historical re-tokenization); merges_txt_lines inverts
    load_merges_lines."""
    import os

    from square_etl_spark.operators.text import (
        bpe_apply_vocab,
        bpe_train,
        load_merges,
        load_merges_lines,
        merges_txt_lines,
        save_merges,
    )

    docs = spark.createDataFrame(
        [(1, "the cat the cat sat"), (2, "the hat")],
        "doc_id long, text string",
    )
    m1 = bpe_train(docs, num_merges=4, alphabet="byte")
    path = os.path.join(tmp_path, "tokenizer")
    assert save_merges(spark, m1, path) == 1
    assert load_merges(spark, path) == m1
    assert load_merges_lines(merges_txt_lines(m1)) == m1
    # retrain on more data → version 2; version 1 stays readable
    more = docs.union(
        spark.createDataFrame([(3, "a cab a cab")], "doc_id long, text string")
    )
    m2 = bpe_train(more, num_merges=4, alphabet="byte")
    assert save_merges(spark, m2, path) == 2
    assert load_merges(spark, path) == m2
    assert load_merges(spark, path, version=1) == m1
    # the loaded artifact drives apply identically to the live list
    v = spark.createDataFrame([(" the",), (" cat",)], "word string")
    a = {r["word"]: list(r["tokens"]) for r in bpe_apply_vocab(
        v, merges=m1, alphabet="byte").collect()}
    b = {r["word"]: list(r["tokens"]) for r in bpe_apply_vocab(
        v, merges=load_merges(spark, path, version=1), alphabet="byte"
    ).collect()}
    assert a == b


def test_bpe_byte_apply_tokenizes_committed_foreign_artifact(spark):
    """r11 verdict item 5: a COMMITTED on-disk artifact in the
    published GPT-2 merges.txt format (tests/assets/
    gpt2_merges_head.txt — version header + the file's documented
    head of 'Ġ'-space merges, reconstructed from the published
    artifact) loads via load_merges_lines and tokenizes through
    bpe_apply_vocab(alphabet='byte'): every merge symbol decomposes
    into BYTE_UNICODE characters (no unknown symbols — the property
    that makes any real merges.txt drop in), and the classic
    'Ġ t'+'h e'+'Ġt he' chain produces the single token 'Ġthe'."""
    from pathlib import Path

    from square_etl_spark.operators.text import (
        BYTE_UNICODE,
        bpe_apply_vocab,
        load_merges_lines,
    )

    path = Path(__file__).parent / "assets" / "gpt2_merges_head.txt"
    merges = load_merges_lines(path.read_text().splitlines())
    assert len(merges) == 40
    assert merges[0] == ("Ġ", "t") and merges[6] == ("Ġt", "he")
    # foreign-artifact compatibility: the symbol space is exactly the
    # GPT-2 byte alphabet — every side of every merge decomposes into
    # BYTE_UNICODE characters
    bu = set(BYTE_UNICODE)
    for a, b in merges:
        assert set(a) <= bu and set(b) <= bu, (a, b)

    v = spark.createDataFrame(
        [(" the",), (" these",), (" and",), ("tion",)], "word string"
    )
    got = {
        r["word"]: list(r["tokens"])
        for r in bpe_apply_vocab(v, merges=merges, alphabet="byte").collect()
    }
    assert got[" the"] == ["Ġthe"]          # Ġ t → Ġt; h e → he; Ġt he
    assert got[" and"] == ["Ġand"]          # Ġ a → Ġa; a n→an? — via Ġan d
    # 'o n' (rank 6) fires before 'io n' can form, so t,i,on — the
    # rank-order semantics a real artifact depends on
    assert got["tion"] == ["t", "i", "on"]
    # every output token is itself in the byte-unicode closure
    for toks in got.values():
        for t in toks:
            assert set(t) <= bu


def test_embedding_lsh_probe_fold_equals_one_shot(spark, sf_dir):
    """The embedding family's fold ≡ one-shot law (r12): two-batch
    ingest via embedding_lsh_index + embedding_lsh_probe + per-batch
    internal dedup reproduces embedding_cosine_pairs_bucketed over the
    union EXACTLY — candidate identity is bucket identity (same
    hyperplanes both ways)."""
    from square_etl_spark.operators.dedup import (
        embedding_cosine_pairs_bucketed,
        embedding_lsh_index,
        embedding_lsh_probe,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(threshold=0.35, dim=64, bits=4, n_tables=8)
    one_shot = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_cosine_pairs_bucketed(
            e, "vec_id", "embedding", **kw
        ).collect()
    }
    b1 = e.filter(F.col("vec_id") % 2 == 0)
    b2 = e.filter(F.col("vec_id") % 2 == 1)
    idx = embedding_lsh_index(b1)
    fold = {}
    for part in (
        embedding_cosine_pairs_bucketed(b1, "vec_id", "embedding", **kw),
        embedding_cosine_pairs_bucketed(b2, "vec_id", "embedding", **kw),
    ):
        for r in part.collect():
            fold[(r.id_a, r.id_b)] = r.cosine_sim
    for r in embedding_lsh_probe(idx, b2, bucket_cap=None, **kw).collect():
        fold[(min(r.new_id, r.old_id), max(r.new_id, r.old_id))] = r.cosine_sim
    assert fold == one_shot and len(fold) > 0


def test_embedding_lsh_probe_caps_hot_buckets_both_sides(spark):
    """Two-sided hot-bucket caps on the embedding probe (the
    minhash_probe r08 contract): a boilerplate ingest burst — many
    identical vectors sharing every (table, bucket) — is dropped by
    new_bucket_cap; a boilerplate INDEX bucket by bucket_cap."""
    from pyspark.sql import functions as F2

    from square_etl_spark.operators.dedup import (
        embedding_lsh_index,
        embedding_lsh_probe,
    )

    dim = 8
    base = spark.range(1).select(
        F2.col("id").alias("vec_id"),
        F2.array(*[F2.lit(float(i + 1)) for i in range(dim)]).alias(
            "embedding"
        ),
    )
    burst = spark.range(100, 130).select(
        F2.col("id").alias("vec_id"),
        F2.array(*[F2.lit(float(i + 1)) for i in range(dim)]).alias(
            "embedding"
        ),
    )
    idx = embedding_lsh_index(base, dim=dim, bits=4, n_tables=2)
    kw = dict(threshold=0.99, dim=dim, bits=4, n_tables=2)
    # uncapped: every burst vector pairs with the index vector
    assert embedding_lsh_probe(
        idx, burst, bucket_cap=None, **kw
    ).count() == 30
    # batch-side cap below the burst bucket population: all dropped
    assert embedding_lsh_probe(
        idx, burst, bucket_cap=None, new_bucket_cap=10, **kw
    ).count() == 0
    # index-side cap: plant a hot index bucket (31 identical vectors)
    hot_idx = embedding_lsh_index(
        base.unionByName(
            spark.range(200, 230).select(
                F2.col("id").alias("vec_id"),
                F2.array(*[F2.lit(float(i + 1)) for i in range(dim)]).alias(
                    "embedding"
                ),
            )
        ),
        dim=dim, bits=4, n_tables=2,
    )
    one = spark.range(500, 501).select(
        F2.col("id").alias("vec_id"),
        F2.array(*[F2.lit(float(i + 1)) for i in range(dim)]).alias(
            "embedding"
        ),
    )
    assert embedding_lsh_probe(hot_idx, one, bucket_cap=None, **kw).count() == 31
    assert embedding_lsh_probe(hot_idx, one, bucket_cap=10, **kw).count() == 0


def test_simhash_signatures_relation_equals_column_spec(spark):
    """The codegen'd relation shape (explode_outer + 64 conditional
    sums) is bit-identical to the column-level simhash64 spec — the
    r13 perf refactor's equality law, including the token-less-doc
    edge (explode_outer's NULL row votes -1 everywhere -> sig 0,
    exactly the empty-array fold)."""
    from pyspark.sql import functions as F

    from square_etl_spark.operators.dedup import simhash_signatures

    d = _docs(spark).unionByName(
        spark.createDataFrame(
            [(99, ""), (100, "   ")], "doc_id long, text string"
        )
    )
    old = d.select("doc_id", simhash64("text").alias("sig"))
    new = simhash_signatures(d)
    assert new.count() == d.count()  # token-less docs kept
    mism = (
        old.alias("o").join(new.alias("n"), "doc_id")
        .filter(F.expr("o.sig <> n.sig")).count()
    )
    assert mism == 0
    empty_sigs = {r.doc_id: r.sig for r in new.filter(F.col("doc_id") >= 99).collect()}
    assert empty_sigs == {99: 0, 100: 0}
