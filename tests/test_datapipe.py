"""Dedup / similarity / textstats / multimodal tests with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pacts_spark.datapipe.dedup import (
    chunk_dedup,
    exact_duplicates,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
    word_shingles,
)
from pacts_spark.datapipe.similarity import _topk_rows, cosine_topk, lsh_ann_topk
from pacts_spark.datapipe.textstats import doc_fingerprint, language_id, text_stats
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),          # near dup
        (4, "completely different content about spark engines"),
        (5, "  the   quick  brown fox jumps over the lazy dog "),    # md5-fingerprint dup of 1 (multi-space runs make its TOKENS differ)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()[0].s
    assert out == ["a b c", "b c d"]


def test_exact_duplicates(docs):
    out = exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0].canonical_id == 1 and out[0].ids == [1, 2]


def test_chunk_dedup_first_occurrence(spark):
    """Passage-level dedup: cross-doc AND intra-doc repeats keep only the
    corpus-wide first occurrence; empty/NULL docs chunk to [''] and dedup
    against each other; a fully-duplicated doc keeps nothing."""
    rows = [
        (1, "a b c d e f"),  # chunks: "a b", "c d", "e f" — all first
        (2, "a b x y"),      # "a b" dups doc 1 -> keeps only "x y"
        (3, "c d c d"),      # both chunks dup doc 1 -> keeps nothing
        (4, ""),             # one '' chunk, first occurrence
        (5, None),           # NULL -> '' chunk, dups doc 4
        (6, "p q p q r"),    # intra-doc repeat: "p q", "p q", "r"
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in chunk_dedup(df, k=2).collect()}
    assert len(out) == 6
    assert (out[1].n_chunks, out[1].n_kept, out[1].dedup_text) == (
        3, 3, "a b c d e f"
    )
    assert (out[2].n_chunks, out[2].n_kept, out[2].dedup_text) == (2, 1, "x y")
    assert (out[3].n_chunks, out[3].n_kept, out[3].dedup_text) == (2, 0, "")
    assert (out[4].n_chunks, out[4].n_kept, out[4].dedup_text) == (1, 1, "")
    assert (out[5].n_chunks, out[5].n_kept, out[5].dedup_text) == (1, 0, "")
    assert (out[6].n_chunks, out[6].n_kept, out[6].dedup_text) == (
        3, 2, "p q r"
    )


def test_chunk_dedup_hot_chunk_is_aggregated(spark):
    """Mass-repeated boilerplate chunk (the skew case the arg-min
    AGGREGATE exists for): 200k copies of one chunk reduce to a single
    winner without any per-key row concentration beyond the combine
    output; every other doc keeps nothing."""
    df = spark.range(200_000).select(
        F.col("id").alias("doc_id"), F.lit("same old boilerplate").alias("text")
    )
    out = chunk_dedup(df, k=8)
    kept = out.filter(F.col("n_kept") > 0).collect()
    assert len(kept) == 1 and kept[0].doc_id == 0
    assert out.count() == 200_000


def test_top_ngrams_counts_and_deterministic_cut(spark):
    """Trigram totals count every occurrence (not distinct-per-doc), and
    the top-k cut is deterministic under count ties via the ngram ASC
    tie-break; short/empty docs emit nothing."""
    from pacts_spark.datapipe.textstats import top_ngrams

    rows = [
        (1, "a b c a b c"),  # trigrams: a b c (x2), b c a, c a b
        (2, "a b c x"),      # a b c, b c x
        (3, "z"),            # too short
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [tuple(r) for r in top_ngrams(df, n=3, topk=2).collect()]
    assert out == [("a b c", 3, 2), ("b c a", 1, 1)]
    full = {r.ngram: (r.total_count, r.n_docs) for r in
            top_ngrams(df, n=3, topk=100).collect()}
    assert full == {
        "a b c": (3, 2), "b c a": (1, 1), "c a b": (1, 1), "b c x": (1, 1),
    }


def test_dedup_against_index(spark):
    """Incremental dedup: batch-local first occurrence survives only if
    its hash is absent from the corpus index."""
    from pacts_spark.datapipe.dedup import dedup_against_index

    batch = spark.createDataFrame(
        [(10, "x"), (20, "x"), (30, "y"), (40, "z")],
        "doc_id long, text string",
    )
    index = spark.createDataFrame([("y",)], "t string").select(
        F.md5("t").alias("content_hash")
    )
    out = sorted(r.doc_id for r in dedup_against_index(batch, index).collect())
    assert out == [10, 40]


def test_global_shuffle_is_a_permutation_and_matches_total_order(spark):
    """shuffle_rank is an exact 0..N-1 permutation, reproducible, equal
    to the rank under the plain (md5, id) total order computed directly,
    and seed-sensitive."""
    from pacts_spark.datapipe.sampling import global_shuffle

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    out = global_shuffle(df, seed=42)
    ranks = sorted(r.shuffle_rank for r in out.collect())
    assert ranks == list(range(500))
    # direct single-partition reference order
    ref = {
        r.doc_id: i
        for i, r in enumerate(
            df.select(
                "doc_id",
                F.md5(F.concat(F.lit("42:"), F.col("doc_id").cast("string"))).alias("h"),
            )
            .orderBy("h", "doc_id")
            .collect()
        )
    }
    got = {r.doc_id: r.shuffle_rank for r in out.collect()}
    assert got == ref
    got2 = {r.doc_id: r.shuffle_rank for r in global_shuffle(df, seed=42).collect()}
    assert got2 == got
    other = {r.doc_id: r.shuffle_rank for r in global_shuffle(df, seed=7).collect()}
    assert other != got
    # NULL id: hashes as '', still a full permutation (regression: NULL
    # bucket key broke the driver-side offset sort)
    withnull = spark.createDataFrame([(1,), (None,), (2,)], "doc_id int")
    assert sorted(r.shuffle_rank for r in global_shuffle(withnull).collect()) == [0, 1, 2]


def test_sessionize_gap_rule(spark):
    """Known-answer gaps: session breaks strictly-greater than the gap;
    ties on ts ordered by event_id; per-user indexes independent."""
    from datetime import datetime

    from pacts_spark.datapipe.sessions import sessionize

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, T(0), 7),    # u7 s1
        (2, T(10), 7),   # gap 10 <= 10 -> s1
        (3, T(21), 7),   # gap 11 > 10 -> s2
        (4, T(31), 7),   # s2
        (5, T(0), 8),    # u8 s1 (independent)
        (6, T(0), 8),    # tie on ts -> ordered by event_id, gap 0 -> s1
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r.event_id: r.session_idx for r in sessionize(df, gap_seconds=10).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1, 6: 1}


def test_sessionize_whale_user_completes_linear(spark):
    """The documented skew bound: one user owning the whole batch still
    sessionizes (per-task work linear in events/user) and the index is
    exact on a 50k-event chain with alternating gaps."""
    from pacts_spark.datapipe.sessions import sessionize

    n = 50_000
    # event i at t = i*5s for even i, previous+20s for odd i (gap > 10 at
    # every even->odd step when i%4==1 ... keep it simple: gap = 5s
    # normally, 100s every 1000th event => 50 sessions
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.col("id") * 5 + (F.col("id") / 1000).cast("long") * 100
        ).alias("ts"),
        F.lit(1).alias("user_id"),
    )
    out = sessionize(df, gap_seconds=60)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"), F.max("session_idx").alias("mx")
    ).collect()[0]
    assert agg.n == n
    assert agg.mx == 50  # a 100s jump every 1000 events -> 50 breaks


def test_quality_head_degenerate_histogram(spark):
    """All rows sharing ONE score (the histogram collapses to one row per
    stratum): frac rounds to k>=1 keeps everything (all tied at the
    threshold); a 1-row stratum with k=0 drops."""
    from pacts_spark.datapipe.sampling import quality_head

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("a").alias("lang"),
        F.lit(0.5).alias("score"),
    )
    out = quality_head(df, 0.25, score_col="score", stratum_col="lang")
    assert out.count() == 1000  # k=250, threshold=0.5, all tied -> all kept


def test_native_session_window_boundary_rule(spark):
    """The built-in session_window merges at a gap of EXACTLY
    gap_seconds and closes only on strictly-greater (probed live — the
    [start, last+gap] hull is end-inclusive for the next event); end =
    last event + gap. This pins the boundary the SQL twin must use
    (same strict-greater rule as sessionize)."""
    from datetime import datetime

    from pacts_spark.datapipe.sessions import native_session_windows

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, T(0), 7), (2, T(10), 7), (3, T(21), 7)],  # gaps 10 (==), 11 (>)
        "event_id long, ts timestamp, user_id long",
    )
    out = sorted(
        native_session_windows(df, gap_seconds=10).collect(),
        key=lambda r: r.start_us,
    )
    # gap == 10 merges; gap 11 > 10 starts a new session
    assert [r.n_events for r in out] == [2, 1]
    assert out[0].end_us == out[0].start_us + 20_000_000  # last(10s) + gap
    assert out[1].n_events == 1


def test_semantic_dedup_groups_and_representatives(spark):
    """Identical vectors group; the min id is kept; orthogonal vectors
    stay their own kept representative."""
    from pacts_spark.datapipe.clusters import semantic_dedup

    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    rows = [(10, e1), (11, e1), (12, e1), (20, e2), (30, [0.0, 0.0, 1.0] + [0.0] * 61)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(df, threshold=0.9).collect()}
    assert len(out) == 5
    assert [out[i].rep_id for i in (10, 11, 12)] == [10, 10, 10]
    assert [out[i].is_kept for i in (10, 11, 12)] == [True, False, False]
    for i in (20, 30):
        assert out[i].rep_id == i and out[i].is_kept


def test_quality_head_threshold_and_ties(spark):
    """k-th-largest threshold per stratum, half-up k, ties at the
    threshold all kept, k<1 strata empty."""
    from pacts_spark.datapipe.sampling import quality_head

    rows = [
        # stratum a: scores 0.9, 0.8, 0.8, 0.7, 0.1 (n=5, frac .4 -> k=2)
        (1, "a", 0.9), (2, "a", 0.8), (3, "a", 0.8), (4, "a", 0.7), (5, "a", 0.1),
        # stratum b: n=1, frac .4 -> k = floor(0.4+0.5) = 0 -> dropped
        (6, "b", 1.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    out = sorted(
        r.doc_id
        for r in quality_head(df, 0.4, score_col="score", stratum_col="lang").collect()
    )
    # k=2 -> threshold = 0.8; ties kept -> docs 1,2,3; stratum b empty
    assert out == [1, 2, 3]
    # frac=1 keeps everything with k>=1
    all_out = quality_head(df, 1.0, score_col="score", stratum_col="lang").count()
    assert all_out == 6
    # frac=0 keeps nothing
    assert quality_head(df, 0.0, score_col="score", stratum_col="lang").count() == 0


def test_session_transcripts_assembly(spark):
    """Transcript sequences follow exact (ts, event_id) order including
    ts ties; session boundaries match sessionize; one exchange total."""
    from datetime import datetime

    from pacts_spark.datapipe.sessions import session_transcripts

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, T(0), 7, "a"),
        (2, T(5), 7, "b"),
        (3, T(30), 7, "c"),   # gap 25 > 10 -> new session
        (4, T(30), 7, "d"),   # tie with 3: event_id orders it after
        (5, T(1), 8, "x"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        (r.user_id, r.session_idx): r
        for r in session_transcripts(df, gap_seconds=10).collect()
    }
    assert out[(7, 1)].transcript == "a b" and out[(7, 1)].n_events == 2
    assert out[(7, 2)].transcript == "c d"
    assert out[(7, 2)].start_us == out[(7, 2)].end_us  # tie: same microsecond
    assert out[(8, 1)].transcript == "x"
    plan = session_transcripts(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # one exchange (+AQE reuse artifacts)


def test_leakage_safe_split_never_straddles_clusters(spark):
    """Every member of a dup cluster gets the SAME split label; split is
    the hash rule on the cluster id; unpaired docs split independently."""
    from pacts_spark.datapipe.clusters import leakage_safe_split
    from pacts_spark.datapipe.sampling import _threshold

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    # chain 0-1-2 one cluster; 50-51 another; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (50, 51)], "id_a long, id_b long"
    )
    out = leakage_safe_split(docs, pairs, eval_rate=0.3).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 100
    assert {by_id[i].split for i in (0, 1, 2)} in ({"train"}, {"eval"})
    assert by_id[50].split == by_id[51].split
    assert by_id[0].cluster_id == 0 and by_id[50].cluster_id == 50
    # the label is exactly the hash rule on cluster_id
    import hashlib

    for r in out:
        b = int(hashlib.md5(str(r.cluster_id).encode()).hexdigest()[:8], 16) % 10000
        assert r.split == ("eval" if b < _threshold(0.3) else "train"), r
    # both sides populated at rate 0.3 over ~97 clusters
    labels = {r.split for r in out}
    assert labels == {"train", "eval"}


def test_unigram_logprob_scores(spark):
    """Contributions are round(ln(c/N)*1e6) for vocab tokens and the
    ln(1/N) floor for OOV; empty/null text scores 0 with 0 tokens."""
    import math

    from pacts_spark.datapipe.textstats import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b rare"), (3, ""), (4, None)],
        "doc_id int, text string",
    )
    # corpus tokens: a=4, b=2, rare=1 -> N=7; vocab_size=2 keeps {a, b}
    out = {r.doc_id: r for r in unigram_logprob(df, vocab_size=2).collect()}
    lp = lambda c: round(math.log(c / 7) * 1e6)
    assert (out[1].n_tokens, out[1].n_oov) == (4, 0)
    assert out[1].logprob_micronats == 3 * lp(4) + lp(2)
    assert (out[2].n_tokens, out[2].n_oov) == (3, 1)
    assert out[2].logprob_micronats == lp(4) + lp(2) + lp(1)  # OOV floor = ln(1/7)
    for d in (3, 4):
        assert (out[d].n_tokens, out[d].n_oov, out[d].logprob_micronats) == (0, 0, 0)
    # vocabulary cut is deterministic: ties broken by token asc
    out2 = {r.doc_id: r.logprob_micronats for r in unigram_logprob(df, vocab_size=2).collect()}
    assert out2 == {k: v.logprob_micronats for k, v in out.items()}


def test_pretraining_tail_pipeline_invariants(spark, tmp_path):
    """The composed tail (quality head -> mixture -> shuffle -> blocks)
    tiles exactly: each emitted (doc, rep) copy's fragments sum to the
    doc's token count, block indices are gap-free, and only weighted
    sources survive."""
    import __spark_entry__ as entry

    out = entry.queries()["pretraining_tail_pipeline"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out
    docs = {
        r.doc_id: (r.nt, r.source)
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr(
            "doc_id",
            "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
            "length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS nt",
            "source",
        )
        .collect()
    }
    from collections import defaultdict

    mass = defaultdict(int)
    for r in out:
        mass[(r.doc_id, r.rep_ix)] += r.tok_end - r.tok_start
        assert docs[r.doc_id][1] in {"src0", "src1", "src2", "src3"}
    for (d, _), m in mass.items():
        assert m == docs[d][0], (d, m, docs[d][0])
    blocks = {r.block_idx for r in out}
    assert blocks == set(range(max(blocks) + 1))


def test_dsir_logratio_directionality(spark):
    """Controlled corpora: tokens exclusive to the target score positive
    per token, tokens absent from the target score negative, and the
    exact micro-nat values follow the Laplace formula."""
    import math

    from pacts_spark.datapipe.textstats import dsir_logratio

    # 2 target docs of 'aa' (4 tokens), 2 others of 'bb' (4 tokens)
    rows = [
        (1, "aa aa", "t"), (2, "aa aa", "t"),
        (3, "bb bb", "o"), (4, "bb bb", "o"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r.dsir_micronats for r in
           dsir_logratio(df, F.col("lang") == "t", vocab_size=10).collect()}
    # cs(aa)=4, ct(aa)=4; cs(bb)=4, ct(bb)=0; ns=8, nt=4, v=2
    lr = lambda ct, cs: round(math.log(((ct + 1) / (4 + 2)) / ((cs + 1) / (8 + 2))) * 1e6)
    assert out[1] == 2 * lr(4, 4) and out[1] > 0      # target-exclusive: positive
    assert out[3] == 2 * lr(0, 4) and out[3] < 0      # target-absent: negative
    assert out[1] == out[2] and out[3] == out[4]


def test_duplicate_spans_exactsubstr(spark):
    """Known answers: a copied 6-token region yields ONE merged span at
    the right 1-based inclusive positions; the first occurrence is NOT
    flagged; self-repetition within a doc is; short docs emit nothing;
    adjacent windows merge."""
    from pacts_spark.datapipe.dedup import duplicate_spans

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y c d e f g h z w"),      # copies doc1 tokens 3..8
        (3, "p q r"),                     # shorter than L
        (4, "m m m m m m m m"),           # self-repetition: grams 2..5 dup gram 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.doc_id, r.tok_start, r.tok_end) for r in duplicate_spans(df, L=4).collect()
    )
    # doc2: dup grams at pos 3,4,5 -> union [3, 5+3] = [3, 8]
    # doc4: grams 2..5 duplicate gram 1 -> union [2, 8]
    assert out == [(2, 3, 8), (4, 2, 8)]
    # no dups at all
    solo = spark.createDataFrame([(1, "a b c d"), (2, "e f g h")], "doc_id long, text string")
    assert duplicate_spans(solo, L=4).count() == 0


def test_token_blocks_exact_tiling(spark):
    """Concat-then-chunk invariants: every block holds exactly B tokens
    (except the last), fragments tile each doc exactly, doc-local slices
    are within range, 0-token docs emit nothing."""
    from pacts_spark.datapipe.sampling import token_blocks

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 17 == 0, F.lit("")).otherwise(
            F.concat(F.lit("w"), F.repeat(F.lit(" x"), (F.col("id") % 41).cast("int")))
        ).alias("text"),
    )
    rows = token_blocks(df, block_tokens=64).collect()
    # exact tiling per doc
    from collections import defaultdict

    mass = defaultdict(int)
    for r in rows:
        assert 0 <= r.tok_start < r.tok_end
        mass[r.doc_id] += r.tok_end - r.tok_start
    toks = {
        r.doc_id: r.nt
        for r in df.select(
            "doc_id",
            F.when(F.length(F.trim("text")) == 0, F.lit(0))
            .otherwise(
                F.length(F.trim("text"))
                - F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
                + 1
            )
            .alias("nt"),
        ).collect()
    }
    assert mass == {k: v for k, v in toks.items() if v >= 1}
    # block masses: exactly 64 except the highest block
    bmass = defaultdict(int)
    for r in rows:
        bmass[r.block_idx] += r.tok_end - r.tok_start
    last = max(bmass)
    assert all(v == 64 for b, v in bmass.items() if b != last)
    assert set(bmass) == set(range(last + 1))  # no gaps
    # empty input
    assert token_blocks(df.filter(F.lit(False))).count() == 0


def test_shard_assign_token_budget(spark):
    """Shards are contiguous in shuffle order, every shard except possibly
    the last holds >= budget tokens minus its last doc (offset rule), and
    the assignment is an exclusive-prefix-sum DIV budget replay."""
    from pacts_spark.datapipe.sampling import shard_assign

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("w "), F.repeat(F.lit("x "), (F.col("id") % 37).cast("int"))
        ).alias("text"),
    )
    rows = shard_assign(df, budget_tokens=100).collect()
    by_rank = sorted(rows, key=lambda r: r.shuffle_rank)
    # replay the rule sequentially
    off = 0
    for r in by_rank:
        assert r.shard_id == off // 100, (r, off)
        off += r.n_tokens
    # shards are contiguous intervals of the rank order
    seen = [r.shard_id for r in by_rank]
    assert seen == sorted(seen)
    # empty input
    empty = shard_assign(df.filter(F.lit(False)))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "doc_id", "shuffle_rank", "n_tokens", "shard_id",
    ]


def test_mixture_upsample_composition(spark):
    """Least-over-weighted stratum passes through exactly once; repeat
    counts follow floor(rep) + hash-fraction; unweighted strata drop."""
    from pacts_spark.datapipe.sampling import mixture_upsample

    df = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a")
        .when(F.col("id") % 3 == 1, "b")
        .otherwise("c")
        .alias("source"),
    )
    # equal natural counts (200 each): weights 0.5/0.25 -> rep a=2, b=1; c unweighted
    out = mixture_upsample(df, {"a": 0.5, "b": 0.25}, stratum_col="source")
    pdf = out.toPandas()
    assert set(pdf.source) == {"a", "b"}
    per = pdf.groupby("source").size()
    assert per["a"] == 400 and per["b"] == 200  # integer reps, no fractional part
    # every (doc, rep_ix) unique; rep_ix dense from 0
    assert len(pdf) == len(pdf.drop_duplicates(["doc_id", "rep_ix"]))
    assert pdf.groupby("doc_id").rep_ix.min().max() == 0
    # fractional rep: a gets 1.5x b -> ~300 a rows via hash sampling
    frac = mixture_upsample(df, {"a": 0.375, "b": 0.25}, stratum_col="source").toPandas()
    n_a = (frac.source == "a").sum()
    assert (frac.source == "b").sum() == 200
    assert 250 <= n_a <= 350  # 1.5 +- hash-sampling tolerance


def test_exact_duplicates_mass_duplication_bounded(spark):
    """1 key x 10^6 rows (the boilerplate-document failure mode): ids must
    hold only the max_ids smallest ids while dup_count carries the true
    total — no million-element array row is ever built."""
    from pacts_spark.datapipe.dedup import exact_duplicate_pairs

    df = spark.range(1_000_000).select(
        F.col("id").alias("doc_id"), F.lit("boilerplate").alias("text")
    )
    out = exact_duplicates(df, max_ids=10).collect()
    assert len(out) == 1
    r = out[0]
    assert r.dup_count == 1_000_000
    assert r.canonical_id == 0
    assert r.ids == list(range(10))
    # edges skip the array path entirely: every non-canonical gets an edge
    assert exact_duplicate_pairs(df).count() == 999_999


def test_exact_duplicate_pairs_matches_unbounded_ids(docs):
    from pacts_spark.datapipe.dedup import exact_duplicate_pairs

    via_ids = {
        (r.canonical_id, i)
        for r in exact_duplicates(docs, max_ids=None).collect()
        for i in r.ids
        if i != r.canonical_id
    }
    via_pairs = {(r.id_a, r.id_b) for r in exact_duplicate_pairs(docs).collect()}
    assert via_pairs == via_ids


def test_ngram_jaccard(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_verified_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs → identical shingle sets
    assert (1, 3) in pairs       # near dup must be found
    assert not any(4 in p for p in pairs)


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    """Self-similar corpus guard (the conversation_neardup lesson: ~98%
    of all pairs survived the band filter on a ~0.35-baseline-Jaccard
    corpus). With max_bucket set, candidate volume must be bounded by
    bands * N * max_bucket / 2 instead of quadratic in the template
    cluster, while a true near-dup pair OUTSIDE the template cluster
    (its buckets are cold by construction) is still found and verified."""
    from pacts_spark.datapipe.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_verified_pairs,
    )

    template = " ".join(f"tok{i}" for i in range(12))
    rows = [(i, f"{template} unique{i}") for i in range(200)]
    # a genuinely-near pair with its own vocabulary (cold buckets)
    rows += [
        (900, "zebra quartz violin nimbus ember lagoon cipher onyx"),
        (901, "zebra quartz violin nimbus ember lagoon cipher onyx extra"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    k, r = 64, 2
    sigs = minhash_signatures(df, k=k, shingle_n=2).localCheckpoint(eager=False)
    uncapped = lsh_candidate_pairs(sigs, bands=k // r, rows_per_band=r).count()
    cap = 8
    capped_df = lsh_candidate_pairs(
        sigs, bands=k // r, rows_per_band=r, max_bucket=cap
    )
    capped = capped_df.count()
    n = df.count()
    assert uncapped > 5000  # the template cluster IS quadratic uncapped
    assert capped < uncapped / 10
    assert capped <= (k // r) * n * cap / 2
    assert (900, 901) in {(row.id_a, row.id_b) for row in capped_df.collect()}

    verified = minhash_verified_pairs(
        df, k=k, rows_per_band=r, shingle_n=2, threshold=0.8, max_bucket=cap
    ).collect()
    assert (900, 901) in {(row.id_a, row.id_b) for row in verified}

    import pytest

    with pytest.raises(ValueError, match="max_bucket"):
        lsh_candidate_pairs(sigs, bands=k // r, rows_per_band=r, max_bucket=1)


def test_minhash_cap_off_output_unchanged(docs):
    """max_bucket=None (the default) must leave the verified output
    byte-identical to the uncapped pipeline — the oracled contract
    queries run cap-off."""
    from pacts_spark.datapipe.dedup import minhash_verified_pairs

    base = sorted(
        map(tuple, minhash_verified_pairs(docs, threshold=0.5).collect())
    )
    huge_cap = sorted(
        map(
            tuple,
            minhash_verified_pairs(docs, threshold=0.5, max_bucket=10**6).collect(),
        )
    )
    assert base == huge_cap


def test_simhash(docs):
    fp = {r.id: r.simhash for r in simhash64(docs).collect()}
    assert fp[1] == fp[2]
    near = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(docs, max_hamming=10, small_corpus=True).collect()}
    assert near[(1, 2)] == 0
    assert (1, 3) in near and near[(1, 3)] <= 10


def _topk_rows_per_row_loop(key, qids, cids, k):
    """The plain reference: one full lexsort per query row."""
    import numpy as np

    not_self = qids[:, None] != cids[None, :]
    ii, jj = [], []
    for i in range(key.shape[0]):
        order = np.lexsort((cids, key[i]))
        order = order[not_self[i, order]][:k]
        ii.extend([i] * len(order))
        jj.extend(order)
    return np.asarray(ii, dtype=np.int64), np.asarray(jj, dtype=np.int64)


def test_topk_rows_threshold_equals_per_row_sort():
    """The partition-threshold top-k picks exactly what a full per-row
    sort picks: tie-heavy integer and float keys, duplicated vec_ids
    (self masked by id equality), k above the candidate count."""
    import numpy as np

    rng = np.random.default_rng(7)
    for case in range(300):
        m, n = int(rng.integers(1, 25)), int(rng.integers(1, 25))
        k = int(rng.integers(1, 30))  # often > n
        key = rng.integers(0, 3, size=(m, n))  # ties everywhere
        if case % 2:
            key = -key / 2.0  # float keys, -0.0 among them
        qids = rng.integers(0, 8, m)  # duplicated ids on both sides
        cids = rng.integers(0, 8, n)
        want = _topk_rows_per_row_loop(key, qids, cids, k)
        got = _topk_rows(key, qids, cids, k)
        assert all(np.array_equal(w, g) and g.dtype == np.int64 for w, g in zip(want, got))


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.95, 0.05]),  # closest to 3
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    nn = {r.vec_id: r.nn_id for r in cosine_topk(df, k=1).collect()}
    assert nn[1] == 2 and nn[2] == 1 and nn[3] == 4 and nn[4] == 3


def test_lsh_ann_recall(spark):
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").limit(200).cache()
    dim = len(emb.first().embedding)
    exact = {r.vec_id: r.nn_id for r in cosine_topk(emb, k=1).collect()}
    approx = {
        r.vec_id: r.nn_id
        for r in lsh_ann_topk(emb, dim=dim, k=1, n_planes=16, bands=8).collect()
    }
    hits = sum(1 for v, nn in exact.items() if approx.get(v) == nn)
    assert hits / len(exact) > 0.5  # blocked ANN finds most true NNs


def _cone_rows(n):
    """``n`` vectors in a tight cone around e1 (one LSH signature, one IVF
    cell); hash-mixed perturbations keep pairwise sims distinct (exact
    sim ties would make the rank-by-raw-sim tie-break ulp-sensitive to
    the matmul block layout)."""
    return [
        (
            i,
            [100.0]
            + [((i * 2654435761 + j * 40503) % 997) / 997.0 for j in range(7)],
        )
        for i in range(n)
    ]


def test_cosine_grid_chunking_equivalence(spark, monkeypatch):
    """The 2-D grid (a hot unkeyed group tiled into 4 x 4 blocks) must
    return EXACTLY the results of the single block: every (query,
    candidate) pair meets in exactly one block regardless of the tiling."""
    from pacts_spark.datapipe import similarity
    from pacts_spark.datapipe.similarity import cosine_pairs

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 120)
        .cache()
    )
    base_nn = {(r.vec_id, r.rank): r.nn_id for r in cosine_topk(emb, k=2).collect()}
    base_pairs = {
        (r.id_a, r.id_b): r.cosine for r in cosine_pairs(emb, 0.4).collect()
    }
    monkeypatch.setattr(similarity, "UNKEYED_BLOCK_ROWS", 32)
    grid_nn = {(r.vec_id, r.rank): r.nn_id for r in cosine_topk(emb, k=2).collect()}
    assert base_nn == grid_nn
    grid_pairs = {
        (r.id_a, r.id_b): r.cosine for r in cosine_pairs(emb, 0.4).collect()
    }
    assert base_pairs == grid_pairs


def test_cosine_topk_candidates_tiled_equals_one_block(spark, monkeypatch):
    """Cross-frame top-k (the embedding-decontamination path: separate
    query and candidate sides) tiled into 2 x 15 unkeyed blocks returns
    exactly the one-block rows."""
    from pacts_spark.datapipe import similarity
    from pacts_spark.datapipe.similarity import _block_grid, _sides

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").cache()
    ev = emb.filter(F.col("vec_id") % 10 == 0)
    tr = emb.filter(F.col("vec_id") % 10 != 0)

    def nn():
        got = cosine_topk(ev, k=2, candidates=tr, dim=64).collect()
        return {(r.vec_id, r.rank): (r.nn_id, r.cosine) for r in got}

    one = nn()
    monkeypatch.setattr(similarity, "UNKEYED_BLOCK_ROWS", 32)
    rows = _sides(ev, "vec_id", "embedding", "q").unionByName(
        _sides(tr, "vec_id", "embedding", "c")
    )
    # 50 queries x 450 candidates at 32 per side: 2 rows x 15 columns
    assert _block_grid(rows, []).select("gq", "gc").distinct().count() == 30
    assert nn() == one and len(one) == 2 * ev.count()


def test_grid_block_count_grows_with_n(spark, monkeypatch):
    """The unkeyed grid is sized from the data, not a static chunk count:
    at UNKEYED_BLOCK_ROWS=32, 120 vectors tile into 4 x 4 blocks and 480
    into 15 x 15, and both give the one-block results (at 4096)."""
    from pacts_spark.datapipe import similarity
    from pacts_spark.datapipe.similarity import _block_grid, _sides, cosine_pairs

    for n, n_sub in ((120, 4), (480, 15)):
        df = spark.createDataFrame(
            _cone_rows(n), "vec_id long, embedding array<float>"
        ).cache()
        monkeypatch.setattr(similarity, "UNKEYED_BLOCK_ROWS", 4096)
        one_nn = {(r.vec_id, r.rank): r.nn_id for r in cosine_topk(df, k=2).collect()}
        one_pairs = {
            (r.id_a, r.id_b): r.cosine for r in cosine_pairs(df, 0.99998).collect()
        }
        monkeypatch.setattr(similarity, "UNKEYED_BLOCK_ROWS", 32)
        blocks = (
            _block_grid(_sides(df, "vec_id", "embedding", "b"), [])
            .select("gq", "gc")
            .distinct()
            .count()
        )
        assert blocks == n_sub * n_sub
        grid_nn = {(r.vec_id, r.rank): r.nn_id for r in cosine_topk(df, k=2).collect()}
        assert grid_nn == one_nn and len(grid_nn) == 2 * n
        grid_pairs = {
            (r.id_a, r.id_b): r.cosine for r in cosine_pairs(df, 0.99998).collect()
        }
        assert grid_pairs == one_pairs and grid_pairs


def test_lsh_ann_hot_bucket_cap(spark, monkeypatch):
    """Adversarial corpus: every vector has the SAME signature (one giant
    bucket per band). The grid router's hot-bucket split must produce
    exactly the results of the untiled path while bounding each task's
    input to ~2*BLOCK_ROWS rows."""
    from pacts_spark.datapipe import similarity

    df = spark.createDataFrame(
        _cone_rows(180), "vec_id long, embedding array<float>"
    ).cache()
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 10**6)
    uncapped = {
        (r.vec_id, r.rank): r.nn_id
        for r in lsh_ann_topk(df, dim=8, k=2, n_planes=8, bands=4).collect()
    }
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 32)
    capped = {
        (r.vec_id, r.rank): r.nn_id
        for r in lsh_ann_topk(df, dim=8, k=2, n_planes=8, bands=4).collect()
    }
    assert capped == uncapped
    assert len(capped) == 2 * 180  # every vector found k=2 neighbors


def test_ivf_trained_hot_cell_cap(spark, monkeypatch):
    """Adversarial single-cell corpus: n_cells=1 routes EVERY candidate and
    probe into one cell (the 100-TB failure mode the cap exists for). The
    grid router must bound each pandas frame to ~2*BLOCK_ROWS rows while
    reproducing the untiled results exactly (per-block partial top-k
    union contains the global top-k)."""
    from pacts_spark.datapipe import similarity
    from pacts_spark.datapipe.similarity import ivf_quantized_topk

    df = spark.createDataFrame(
        _cone_rows(180), "vec_id long, embedding array<float>"
    ).cache()
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 10**6)
    uncapped = {
        (r.vec_id, r.rank): r.nn_id
        for r in ivf_quantized_topk(df, n_cells=1, nprobe=1, k=2).collect()
    }
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 32)
    capped = {
        (r.vec_id, r.rank): r.nn_id
        for r in ivf_quantized_topk(df, n_cells=1, nprobe=1, k=2).collect()
    }
    assert capped == uncapped
    assert len(capped) == 2 * 180


def test_ivf_topk_duplicate_id_is_not_its_own_neighbour(spark):
    """Self is masked by id equality, as in the DuckDB twin
    (``a.vec_id <> b.vec_id``): a vec_id occurring twice in one cell
    must not be returned as its own nearest neighbour."""
    from pacts_spark.datapipe.similarity import ivf_topk

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.01, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = [
        (r.vec_id, r.nn_id)
        for r in ivf_topk(df, block_col="label", k=1).collect()
        if r.vec_id == 1
    ]
    assert got == [(1, 2)]
    assert [
        (r.vec_id, r.nn_id)
        for r in cosine_topk(df.drop("label"), k=1).collect()
        if r.vec_id == 1
    ] == [(1, 2)]


def test_ivf_topk_hot_cell_tiled_equals_one_block(spark, monkeypatch):
    """A cell above BLOCK_ROWS rows is tiled like any other key group and
    the window merge returns exactly the one-block rows; the small cell
    beside it stays one block."""
    from pacts_spark.datapipe import similarity
    from pacts_spark.datapipe.similarity import _block_grid, _sides, ivf_topk

    rows = [(i, v, 0 if i < 150 else 1) for i, v in _cone_rows(180)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()

    def nn():
        got = ivf_topk(df, block_col="label", k=2).collect()
        return {(r.vec_id, r.rank): (r.nn_id, r.label) for r in got}

    one = nn()
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 32)
    blocks = (
        _block_grid(_sides(df, "vec_id", "embedding", "b", "label"), ["label"])
        .select("label", "gq", "gc")
        .distinct()
        .groupBy("label")
        .count()
        .collect()
    )
    assert {r["label"]: r["count"] for r in blocks} == {0: 25, 1: 1}
    assert nn() == one and len(one) == 2 * 180


def test_ivf_trained_double_vectors_and_auto_cells(spark):
    """array<double> embeddings must flow through WITHOUT a float32
    downcast (schema-derived mapInPandas type), and n_cells=None derives a
    sqrt(N)-ish cell count instead of N/8 cells."""
    from pacts_spark.datapipe.similarity import ivf_quantized_topk

    rows = _cone_rows(64)
    fdf = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    ddf = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    # in a tight cone every vector lands in the same cells under either
    # precision; the double path must still run and agree with the float
    # path on this separable corpus
    got_f = {r.vec_id: r.nn_id for r in ivf_quantized_topk(fdf, n_cells=1, k=1).collect()}
    got_d = {r.vec_id: r.nn_id for r in ivf_quantized_topk(ddf, n_cells=1, k=1).collect()}
    assert got_f == got_d and len(got_d) == 64
    auto = ivf_quantized_topk(ddf, n_cells=None, k=1)  # sqrt(64)=8 cells
    assert auto.count() == 64


def test_simhash_param_guards(docs):
    """Narrow blocking chunks (keyspace < 2^12 per chunk) must be an
    explicit small-corpus opt-in, and a 60-bit token hash cannot feed a
    64-bit fingerprint (dead constant bits would weaken blocking)."""
    with pytest.raises(ValueError, match="small_corpus"):
        simhash_near_pairs(docs, max_hamming=10)  # 64/11 → 5-bit chunks
    with pytest.raises(ValueError, match="bits<=60"):
        simhash64(docs, token_hash="md5_60", bits=64)
    # scale-safe default shape passes the guard
    simhash_near_pairs(docs, max_hamming=3)


def test_rebalanced_hash_sample(spark):
    """Computed drift→action rates: a stratum over-represented vs the
    baseline is downsampled to ~target/current; under-represented strata
    pass whole; strata absent from the baseline drop entirely. Sample
    membership is the deterministic hash-bucket rule (nested/retry-stable)."""
    from pacts_spark.datapipe.sampling import hash_bucket, rebalanced_hash_sample

    rows = [(i, "en" if i < 800 else ("de" if i < 900 else "und")) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    baseline = spark.createDataFrame(
        [("en", 400), ("de", 200)], "stratum string, n long"
    )
    got = rebalanced_hash_sample(df, baseline, "stratum").collect()
    by = {}
    for r in got:
        by.setdefault(r.stratum, set()).add(r.doc_id)
    assert "und" not in by  # absent from baseline -> rate 0
    assert by["de"] == set(range(800, 900))  # target 200 > current 100 -> rate 1
    # en: rate 400/800 = 0.5 -> exactly the docs whose bucket < 5000
    thr = 5000
    expect_en = {
        r.doc_id
        for r in df.filter(F.col("stratum") == "en")
        .select("doc_id", hash_bucket(F.col("doc_id")).alias("b"))
        .collect()
        if r.b < thr
    }
    assert by["en"] == expect_en


def test_hashed_embedding(spark):
    """Hashing-trick vectorizer: unit L2 norm always (empty/NULL text
    included — never a zero vector), deterministic across calls, bucket
    counts match a direct python replay, and the DuckDB twin agrees."""
    import hashlib

    import duckdb
    import numpy as np

    from pacts_spark.datapipe.embedding import (
        hashed_ngram_embedding,
        hashed_ngram_embedding_sql,
    )

    rows = [(1, "a b a c"), (2, ""), (3, None), (4, "hello world hello")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: np.array(r.embedding) for r in hashed_ngram_embedding(df, dim=8).collect()}
    assert set(got) == {1, 2, 3, 4}
    for v in got.values():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-12
    # python replay of doc 1
    cnt = np.zeros(8)
    for tok in "a b a c".split(" "):
        cnt[int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 8] += 1
    assert np.allclose(got[1], cnt / np.linalg.norm(cnt))
    assert np.allclose(got[2], got[3])  # NULL coalesces to ''
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES (1, 'a b a c'), (2, ''),"
        " (3, NULL), (4, 'hello world hello')) t(doc_id, text)"
    )
    for r in con.execute(hashed_ngram_embedding_sql(dim=8)).fetchall():
        assert np.allclose(np.array(r[1]), got[r[0]]), r[0]


def test_text_stats(spark):
    df = spark.createDataFrame([(1, "a b a"), (2, "")], "doc_id long, text string")
    out = {r.doc_id: r for r in text_stats(df).collect()}
    assert out[1].n_tokens == 3 and out[1].n_unique_tokens == 2
    assert out[1].ttr == round(2 / 3, 6)
    assert out[2].n_tokens == 0 and out[2].quality_score == 0.0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here"),
            (2, "le chat et la mer est bleue"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in language_id(df).collect()}
    assert out[1] == "en" and out[2] == "fr" and out[3] == "und"


def test_doc_fingerprint_normalizes(docs):
    fp = {r.doc_id: r.fingerprint for r in doc_fingerprint(docs).collect()}
    assert fp[1] == fp[5]  # whitespace-normalized
    assert fp[1] != fp[3]


def test_multimodal_features(spark):
    from pacts_spark.datapipe.multimodal import MEDIA_SCHEMA, extract_features, frame_sample_plan

    rows = [
        (1, "image", b"\x89PNGfake", "image/png", 64, 64, None),
        (2, "audio", b"RIFFfake", "audio/wav", None, None, 2500),
        (3, "video", b"ftypfake", "video/mp4", 640, 480, 3000),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(df, dim=8).collect()
    assert len(feats) == 3
    assert all(len(r.feature) == 8 for r in feats)
    # deterministic: same blob → same feature
    feats2 = extract_features(df, dim=8).collect()
    assert [r.feature for r in feats] == [r.feature for r in feats2]
    plan = frame_sample_plan(df, every_ms=1000).collect()
    assert [(r.media_id, r.frame_ts_ms) for r in plan] == [(3, 0), (3, 1000), (3, 2000)]


def test_multimodal_pillow_hook(spark):
    """decoder='pillow' is import-guarded: without PIL (this sandbox) it
    must produce BYTE-IDENTICAL output to the stub (the fallback), and
    n_bytes/sha256 are decode-independent; with PIL present, a real PNG
    decodes to the pooled-grayscale feature (that branch self-skips
    here). Unknown decoder names fail at the driver."""
    import pytest

    from pacts_spark.datapipe.multimodal import MEDIA_SCHEMA, extract_features

    rows = [
        (1, "image", b"\x89PNGfake", "image/png", 64, 64, None),
        (2, "audio", b"RIFFfake", "audio/wav", None, None, 2500),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    stub = sorted(map(tuple, extract_features(df, dim=8).collect()))
    hook = sorted(map(tuple, extract_features(df, dim=8, decoder="pillow").collect()))

    try:
        import io

        from PIL import Image

        has_pil = True
    except ImportError:
        has_pil = False

    if not has_pil:
        assert hook == stub  # guarded fallback is exact
    else:
        # n_bytes/sha256 (the oracled columns) never depend on the decoder
        assert [t[:4] for t in hook] == [t[:4] for t in stub]
        # a real image decodes through PIL: constant-gray 16x16 PNG pools
        # to a constant feature vector
        buf = io.BytesIO()
        Image.new("L", (16, 16), color=128).save(buf, format="PNG")
        real = spark.createDataFrame(
            [(9, "image", buf.getvalue(), "image/png", 16, 16, None)],
            MEDIA_SCHEMA,
        )
        feat = extract_features(real, dim=4, decoder="pillow").collect()[0].feature
        assert all(abs(v - 128.0 / 255.0) < 1e-6 for v in feat)

    with pytest.raises(ValueError, match="unknown decoder"):
        extract_features(df, decoder="torch")


def test_simhash_recall_guarantee_vs_bruteforce(spark):
    """Pigeonhole blocking must have recall 1: for every max_hamming, the
    blocked candidate pipeline finds EXACTLY the all-pairs Hamming <= h set
    computed by brute force over the fingerprints."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 120  # deterministic subset (limit() is not)
    )
    fps = {r.id: r.simhash for r in simhash64(docs).collect()}
    ids = sorted(fps)
    mask = (1 << 64) - 1  # simhash is a signed long; mask before popcount

    def ham(a, b):
        return bin((fps[a] ^ fps[b]) & mask).count("1")

    for h in (1, 3, 8):
        brute = {
            (a, b): ham(a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if ham(a, b) <= h
        }
        blocked = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_near_pairs(docs, max_hamming=h, small_corpus=True).collect()
        }
        assert blocked == brute, f"recall broken at max_hamming={h}"


def test_connected_components_known_graph(spark):
    from pacts_spark.datapipe.clusters import connected_components, dedup_clusters

    # components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {10,11}, singleton edges none
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 3), (10, 11)], "id_a long, id_b long"
    )
    cc = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}
    dc = {r.doc_id: (r.cluster_id, r.is_canonical)
          for r in dedup_clusters(None, pairs).collect()}
    assert dc[1] == (1, True) and dc[7] == (1, False) and dc[10] == (10, True)
    # with the full document set, unpaired docs become singleton canonicals
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 10, 11, 99)], "doc_id long")
    full = {r.doc_id: (r.cluster_id, r.is_canonical)
            for r in dedup_clusters(docs, pairs).collect()}
    assert full[99] == (99, True) and full[7] == (1, False) and len(full) == 7


def test_connected_components_star_chain(spark):
    """The large-star/small-star algorithm must label a CHAIN graph —
    diameter 63, far beyond label_prop's default round budget — within an
    O(log n) round budget, with labels identical to min-label
    propagation's on a graph both can solve."""
    from pacts_spark.datapipe.clusters import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    # label_prop needs diameter rounds — a 6-round budget cannot close 63
    with pytest.raises(RuntimeError, match="star"):
        connected_components(chain, max_rounds=6)
    # star converges well inside O(log n) rounds (2*ceil(log2(64)) = 12)
    cc = {
        r.doc_id: r.cluster_id
        for r in connected_components(chain, max_rounds=12, algorithm="star").collect()
    }
    assert cc == {i: 0 for i in range(64)}
    # equality with label_prop where both converge
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 3), (10, 11), (5, 5)], "id_a long, id_b long"
    )
    lp = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    st = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, algorithm="star").collect()
    }
    # identical labels; the self-loop-only node 5 is dropped by BOTH
    # (self-pairs carry no connectivity)
    assert lp == st and 5 not in lp
    assert lp == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


def test_sampling_threshold_rounding():
    """Half-bucket rates round UP (deterministic floor(x+0.5), not
    banker's rounding): 0.00005 keeps one bucket, and 0.57 is 5700 despite
    the binary-float 5699.999… product."""
    from pacts_spark.datapipe.sampling import _threshold

    assert _threshold(0.00005) == 1
    assert _threshold(0.57) == 5700
    assert _threshold(0.0) == 0
    assert _threshold(1.0) == 10000


def test_hash_sample_deterministic_and_nested(spark):
    from pacts_spark.datapipe.sampling import hash_sample, stratified_hash_sample

    docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    s10a = {r.doc_id for r in hash_sample(docs, 0.1).collect()}
    s10b = {r.doc_id for r in hash_sample(docs, 0.1).collect()}
    s30 = {r.doc_id for r in hash_sample(docs, 0.3).collect()}
    assert s10a == s10b                      # deterministic
    assert s10a <= s30                       # nested under rate increase
    assert 0.05 < len(s10a) / 2000 < 0.15    # near the target rate
    strat = docs.withColumn("g", (F.col("doc_id") % 2 == 0))
    out = stratified_hash_sample(
        strat.withColumn("g", F.col("g").cast("string")),
        {"true": 0.5}, "g", default_rate=0.0).collect()
    assert all(r.g == "true" for r in out) and len(out) > 0


def test_ivf_quantized_recall_monotone_and_exhaustive(spark):
    """Trained-quantizer IVF (ivf_quantized_topk): recall@1 vs brute force
    must rise with nprobe (the multi-probe trade), and probing ALL cells
    is exhaustive — identical to the exact result (every (q, c) pair
    meets in c's cell). Uniform random embeddings are IVF's worst case,
    so the mid bounds are deliberately loose."""
    from pacts_spark.datapipe.similarity import cosine_topk, ivf_quantized_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {r.vec_id: r.nn_id for r in cosine_topk(emb, k=1).collect()}

    def recall(nprobe):
        got = {
            r.vec_id: r.nn_id
            for r in ivf_quantized_topk(emb, n_cells=8, nprobe=nprobe, k=1).collect()
        }
        assert len(got) == len(exact)
        return sum(got.get(k) == v for k, v in exact.items()) / len(exact)

    r1, r2, r8 = recall(1), recall(2), recall(8)
    assert r1 >= 0.15
    assert r2 > r1
    assert r8 == 1.0


def test_lsh_near_pairs_subset_of_exact_with_high_recall(spark):
    """lsh_cosine_near_pairs must emit a SUBSET of the exact cosine_pairs
    set (identical cosines where found — same rounding), with recall
    within the documented (1-p^r)^b band-miss bound at the default
    parameters."""
    from pacts_spark.datapipe.similarity import cosine_pairs, lsh_cosine_near_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cosine for r in cosine_pairs(emb, threshold=0.4).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in lsh_cosine_near_pairs(emb, dim=64, threshold=0.4).collect()
    }
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert abs(v - exact[k]) < 1e-9
    assert len(got) >= 0.9 * len(exact), (len(got), len(exact))


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee (k=8, w=4): two documents sharing a substring
    of length >= k + w - 1 = 11 (after whitespace-normalization) MUST
    share at least one fingerprint; a doc with entirely different
    content shares none (statistically — distinct 60-bit gram hashes)."""
    from pacts_spark.datapipe.textstats import winnowing_fingerprints

    shared = "the quick brown fox jumps over"
    rows = [
        (1, f"AAAA {shared} BBBB"),
        (2, f"xyzzy plugh {shared} grault garply"),
        (3, "completely unrelated content with no overlap whatsoever 12345"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared >=11-char substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_short_empty_null_docs_emit_no_rows(spark):
    """Docs whose normalized length < k must emit NO fingerprints (the
    DuckDB twin's range(1, 1) emits none); unguarded, Spark's
    sequence(1, 0) yields DESCENDING [1, 0] and fabricates rows — incl. a
    NULL fingerprint for NULL text. Length == k emits exactly one gram."""
    from pacts_spark.datapipe.textstats import winnowing_fingerprints

    rows = [(1, "abc"), (2, ""), (3, None), (4, "   "), (5, "exactly8")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = winnowing_fingerprints(df, k=8, w=4).collect()
    assert {r.doc_id for r in got} == {5}
    assert all(r.fingerprint is not None for r in got)


def test_repetition_stats_known_answers(spark):
    """Gopher-style repetition signals, closed-form: top-n-gram counts,
    char fractions (capped at 1.0), duplicate-bigram fraction; ties on
    count resolve to the lexicographically-smallest gram; empty/NULL/
    single-word docs emit all-zero signals."""
    from pacts_spark.datapipe.textstats import repetition_stats

    rows = [
        (1, "a a a a"),        # bigrams: 3x "a a"
        (2, "w x y z"),        # all bigrams distinct
        (3, ""),
        (4, None),
        (5, "b c b c b"),      # "b c" x2 ties "c b" x2 -> "b c" wins
        (6, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert len(got) == 6

    r = got[1]
    assert (r.n_tokens, r.top_bigram_count, r.top_trigram_count) == (4, 3, 2)
    assert r.top_bigram_char_frac == 1.0      # min(1, 3*3/7)
    assert r.dup_bigram_frac == 1.0
    r = got[2]
    assert (r.n_tokens, r.top_bigram_count) == (4, 1)
    assert r.top_bigram_char_frac == round(3 / 7, 6)
    assert r.top_trigram_char_frac == round(5 / 7, 6)
    assert r.dup_bigram_frac == 0.0
    for d in (3, 4):
        r = got[d]
        assert (r.n_tokens, r.top_bigram_count, r.top_trigram_count) == (0, 0, 0)
        assert (r.top_bigram_char_frac, r.dup_bigram_frac) == (0.0, 0.0)
    r = got[5]
    # tie between "b c" and "c b" (2 each) -> lexicographically smallest
    assert r.top_bigram_count == 2
    assert r.top_bigram_char_frac == round(2 * 3 / 9, 6)
    assert r.dup_bigram_frac == 1.0
    r = got[6]
    assert (r.n_tokens, r.top_bigram_count, r.dup_bigram_frac) == (1, 0, 0.0)


def test_decontamination_hits_split_and_guarantee(spark):
    """md5(id)%100 < 5 puts ids 10/70 in the EVAL split (precomputed);
    a train doc sharing a >= k+w-1 = 19-char substring with an eval doc
    is flagged with the right counts; clean train docs and eval docs
    themselves never appear."""
    from pacts_spark.datapipe.textstats import decontamination_hits

    leak = "the secret benchmark answer string"  # >= 19 chars
    rows = [
        (10, f"eval question one {leak} end"),          # eval (bucket 0)
        (70, "eval question two nothing shared here"),  # eval (bucket 1)
        (1, f"training document copies {leak} verbatim"),  # contaminated
        (2, "clean training document with original content"),
        (3, "another clean one completely different words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in decontamination_hits(df, eval_pct=5).collect()}
    assert set(got) == {1}
    assert got[1].n_shared_fps >= 1
    assert got[1].n_eval_docs == 1


def test_pii_scrub_known_answers(spark):
    """Redaction order (url -> email -> ipv4 -> phone) and per-class
    counts on crafted text; http://user@host credentials are swallowed
    by the URL token, never half-matched as an email."""
    from pacts_spark.datapipe.pii import pii_scrub

    rows = [
        (1, "mail me at a.b+c@example.org today"),
        (2, "see https://ex.com/p?q=1 or http://user@host.example.com/x"),
        (3, "server 192.168.0.1 then call +15551234567"),
        (4, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert got[1].clean_text == "mail me at <EMAIL> today"
    assert (got[1].n_email, got[1].n_url) == (1, 0)
    # both URLs redacted as URLs; the embedded user@host never counts as email
    assert got[2].clean_text == "see <URL> or <URL>"
    assert (got[2].n_url, got[2].n_email) == (2, 0)
    assert got[3].clean_text == "server <IP> then call <PHONE>"
    assert (got[3].n_ipv4, got[3].n_phone) == (1, 1)
    assert got[4].clean_text == "nothing sensitive here"
    assert (got[4].n_url, got[4].n_email, got[4].n_ipv4, got[4].n_phone) == (0, 0, 0, 0)


def test_pack_sequences_next_fit(spark):
    """Greedy next-fit with n_groups=1: docs in id order, budget 5.
    Token counts 3,2,4,9,1 -> bins [0,0,1,2,3]: 3+2 fits, 4 opens bin 1,
    the oversized 9-token doc gets its own bin (never split), 1 opens the
    next bin because 9+1 > 5."""
    from pacts_spark.datapipe.packing import pack_sequences

    rows = [
        (1, "a b c"),
        (2, "d e"),
        (3, "f g h i"),
        (4, "j k l m n o p q r"),
        (5, "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pack_sequences(df, budget=5, n_groups=1).collect()}
    assert [got[i].bin_idx for i in (1, 2, 3, 4, 5)] == [0, 0, 1, 2, 3]
    assert [got[i].n_tokens for i in (1, 2, 3, 4, 5)] == [3, 2, 4, 9, 1]
    assert all(got[i].pack_group == 0 for i in got)


def test_pack_sequences_groups_partition_rows(spark):
    """Every doc lands in exactly one md5-derived group; within each
    group bin fill never exceeds the budget except single oversized
    docs; group assignment is deterministic across runs."""
    from pacts_spark.datapipe.packing import pack_sequences

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w "), F.repeat(F.lit("x "), (F.col("id") % 13).cast("int"))).alias("text"),
    )
    out = pack_sequences(df, budget=20, n_groups=4).toPandas()
    assert len(out) == 200 and out.doc_id.nunique() == 200
    assert set(out.pack_group.unique()) <= {0, 1, 2, 3}
    fills = out.groupby(["pack_group", "bin_idx"]).n_tokens.agg(["sum", "count", "max"])
    over = fills[fills["sum"] > 20]
    assert (over["count"] == 1).all()  # only oversized singletons exceed budget
    out2 = pack_sequences(df, budget=20, n_groups=4).toPandas()
    assert out.sort_values("doc_id").pack_group.tolist() == out2.sort_values("doc_id").pack_group.tolist()


def test_domain_cap_exact_first_k_by_hash_order(spark):
    from pacts_spark.datapipe.sampling import domain_cap
    from pyspark.sql import Window

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("host-"), (F.col("id") % 7).cast("string")).alias("source"),
        F.lit("x").alias("text"),
    )
    got = domain_cap(df, cap=20, stratum_col="source", id_col="doc_id", seed=7)
    # exactly min(cap, n) per stratum
    per = {r.source: r.c for r in got.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert set(per.values()) == {20}
    # the kept set IS the first 20 under the seeded hash total order
    h = F.md5(F.concat(F.lit("7:"), F.col("source"), F.lit(":"), F.col("doc_id").cast("string")))
    rn = F.row_number().over(Window.partitionBy("source").orderBy(h, "doc_id"))
    want = {r.doc_id for r in df.withColumn("rn", rn).filter(F.col("rn") <= 20).collect()}
    assert {r.doc_id for r in got.collect()} == want
    # original columns survive
    assert set(got.columns) == {"doc_id", "source", "text"}


def test_domain_cap_edges(spark):
    from pacts_spark.datapipe.sampling import domain_cap

    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("only").alias("source")
    )
    assert domain_cap(df, cap=0).count() == 0
    assert domain_cap(df, cap=100).count() == 10  # cap above n keeps all
    assert domain_cap(df.filter(F.lit(False)), cap=5).count() == 0  # empty in


def test_bigram_logprob_known_answer_and_edges(spark):
    import math

    from pacts_spark.datapipe.textstats import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "a"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(df, vocab_size=10, lam=0.7).collect()}
    # corpus: c(a)=5, c(b)=2, N=7; bigrams: "a b":2, "b a":1, "a a":1
    def lp(c12, c1, c2):
        return round(math.log(0.7 * (c12 / c1) + (1.0 - 0.7) * (c2 / 7)) * 1e6)

    assert out[1].n_bigrams == 3
    assert out[1].interp_micronats == lp(2, 5, 2) + lp(1, 2, 5) + lp(2, 5, 2)
    assert out[2].n_bigrams == 1 and out[2].interp_micronats == lp(1, 5, 5)
    for d in (3, 4, 5):  # single-token / empty / null text
        assert out[d].n_bigrams == 0 and out[d].interp_micronats == 0


def test_bigram_logprob_sees_bad_transitions_unigram_misses(spark):
    """Two docs with IDENTICAL token multisets: the one with corpus-
    typical transitions outscores the shuffled one per transition —
    the signal a unigram filter cannot produce."""
    from pacts_spark.datapipe.textstats import bigram_logprob, unigram_logprob

    base = [(i, "the quick fox jumps over the lazy dog") for i in range(20)]
    rows = base + [(100, "the quick fox jumps over the lazy dog"),
                   (101, "dog the lazy quick over fox the jumps")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bg = {r.doc_id: r.interp_micronats for r in bigram_logprob(df, vocab_size=50).collect()}
    ug = {r.doc_id: r.logprob_micronats for r in unigram_logprob(df, vocab_size=50).collect()}
    assert ug[100] == ug[101]          # unigram is blind to order
    assert bg[100] > bg[101]           # bigram is not


def test_pq_topk_recall_vs_exact_and_edges(spark, monkeypatch):
    """PQ-ADC top-k vs exact integer-L2 top-k on the fixture: recall@3
    must clear a conservative floor (codebook quantization error only),
    and the ADC distance must equal |q - reconstruct(x)|^2 by
    construction (checked via the self-pair exclusion + determinism)."""
    import numpy as np

    from pacts_spark.datapipe import similarity
    from pacts_spark.datapipe.similarity import pq_topk

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = pq_topk(df, k=3, m=8, k_codes=16, iters=2, rerank=32)
    rows = got.collect()
    # the ADC shortlist merges per-block top-32s: tiled into 4 x 4 blocks
    # (500 vectors at 128 per side) it must return the one-block rows
    monkeypatch.setattr(similarity, "UNKEYED_BLOCK_ROWS", 128)
    tiled = pq_topk(df, k=3, m=8, k_codes=16, iters=2, rerank=32).collect()
    assert sorted(map(tuple, tiled)) == sorted(map(tuple, rows))
    by_q = {}
    for r in rows:
        by_q.setdefault(r.vec_id, []).append((r.rank, r.nn_id, r.d2))
    # exact integer-L2 top-3 (numpy, same micro quantization)
    pdf = df.toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    Q = np.round(M * 1e6).astype(np.int64)
    hits = total = 0
    for i in range(len(ids)):
        d2 = ((Q - Q[i]) ** 2).sum(axis=1)
        d2[i] = np.iinfo(np.int64).max
        exact = set(ids[np.lexsort((ids, d2))[:3]])
        approx = {n for _, n, _ in by_q[ids[i]]}
        hits += len(exact & approx)
        total += 3
    recall = hits / total
    # ADC-only recall@3 is 0.155 here; the rerank=32 shortlist lifts it
    # to ~0.77 — 0.6 keeps margin while still catching a broken rerank
    assert recall >= 0.6, recall
    # per-query invariants: ranks are 1..3, distances non-decreasing
    for q, lst in by_q.items():
        lst.sort()
        assert [r for r, _, _ in lst] == [1, 2, 3]
        assert lst[0][2] <= lst[1][2] <= lst[2][2]
        assert all(n != q for _, n, _ in lst)


def test_pq_topk_small_corpus_and_empty(spark):
    from pacts_spark.datapipe.similarity import pq_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0]), (3, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    # k_codes >> rows: codebooks hold only 3 seeds; still exact ranks
    out = {r.vec_id: r.nn_id for r in pq_topk(df, k=1, m=2, k_codes=16).collect()}
    assert out[1] == 2 and out[2] == 1
    assert pq_topk(df.filter(F.lit(False)), k=1, m=2, k_codes=4).count() == 0


def test_domain_cap_null_stratum_capped_not_dropped(spark):
    """Regression (code-review finding): a plain equi-join on the raw
    stratum silently DROPPED every NULL-stratum row; they must be capped
    like any other domain (and '' must stay a distinct stratum)."""
    from pacts_spark.datapipe.sampling import domain_cap

    rows = (
        [(i, None) for i in range(20)]
        + [(100 + i, "a") for i in range(20)]
        + [(200 + i, "") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_cap(df, cap=5, stratum_col="source", id_col="doc_id").collect()
    by: dict = {}
    for r in out:
        by.setdefault(r.source, set()).add(r.doc_id)
    assert len(by[None]) == 5          # capped, not dropped
    assert len(by["a"]) == 5
    assert len(by[""]) == 3            # '' is NOT conflated with NULL


def test_shard_assign_null_text_contributes_zero(spark):
    """Regression: a NULL-text doc keeps n_tokens NULL but gets a
    CONCRETE shard (contributes 0 tokens), matching the SQL twin's
    COALESCE'd window sum."""
    from pacts_spark.datapipe.sampling import shard_assign

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in shard_assign(df, budget_tokens=4).collect()}
    assert out[2].n_tokens is None and out[2].shard_id is not None
    assert sorted(r.shuffle_rank for r in out.values()) == [0, 1, 2]
    # token budget math unaffected: 5 real tokens over budget 4 -> 2 shards
    assert {r.shard_id for r in out.values()} <= {0, 1}


def test_sessionize_null_ts_sorts_last(spark):
    """Regression: NULL ts must sort LAST (the DuckDB default the twins
    inherit), not Spark's nulls-first — a NULL-ts event joins the FINAL
    session instead of anchoring session 1."""
    from pacts_spark.datapipe.sessions import sessionize

    df = spark.createDataFrame(
        [(1, 7, "2025-01-01 00:00:00"), (2, 7, "2025-01-01 02:00:00"), (3, 7, None)],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {r.event_id: r.session_idx for r in sessionize(df, gap_seconds=1800).collect()}
    assert got[1] == 1 and got[2] == 2
    assert got[3] == got[2]  # NULL ts rides the LAST session, never the first


def test_native_session_twin_tie_at_boundary(spark, tmp_path):
    """Regression: tied timestamps at a session boundary — the twin's
    running-sum window now orders by (ts, event_id) like its lag window,
    so Spark's session_window and the DuckDB replay agree."""
    import duckdb

    import __spark_entry__ as entrymod
    from pacts_spark.datapipe.sessions import native_session_windows

    rows = [
        (1, 5, "2025-01-01 00:00:00", "a"),
        (2, 5, "2025-01-01 00:15:01", "b"),  # gap 901s > 900 -> new session
        (3, 5, "2025-01-01 00:15:01", "c"),  # TIED ts with e2 -> same session
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, event_type string"
    ).select(
        "event_id",
        "user_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type",
    )
    pq = str(tmp_path / "ev.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    oracle = sorted(
        con.execute(entrymod.oracle_sql()["session_windows_native_events"]).fetchall()
    )
    got = sorted(
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in native_session_windows(df, gap_seconds=900).collect()
    )
    assert got == [tuple(r) for r in oracle]
    assert [g[3] for g in got] == [1, 2]  # sessions {e1}, {e2,e3}


def test_vocab_merge_candidates_known_answer_and_vt_dialect(spark, tmp_path):
    """Known-answer pair counts + the \\x0B dialect pin: BPE_ISH_PATTERN's
    negated class now spells whitespace explicitly, so a vertical tab
    separates pieces identically in Spark (Java regex) and DuckDB (RE2) —
    with \\s the two engines tokenized VT-adjacent text differently."""
    import duckdb

    import __spark_entry__ as entrymod
    from pacts_spark.datapipe.textstats import vocab_merge_candidates

    df = spark.createDataFrame(
        [(1, "the cat the cat"), (2, "the cat"), (3, None), (4, "solo"),
         (5, "a\x0bb a\x0bb")],
        "doc_id long, text string",
    )
    got = {(r.piece_a, r.piece_b): r.n for r in vocab_merge_candidates(df, top_k=10).collect()}
    assert got[("the", "cat")] == 3
    assert got[("cat", "the")] == 1
    assert got[("a", "b")] == 2        # VT splits pieces: [a,b,a,b] -> (a,b)x2
    assert got[("b", "a")] == 1
    # cross-engine: the ACTUAL twin on the same data
    pq = str(tmp_path / "docs.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    oracle = {
        (a, b): n
        for a, b, n in con.execute(
            entrymod.oracle_sql()["vocab_merges_documents"]
        ).fetchall()
    }
    assert oracle == got


def test_conversation_neardup_via_entry(spark, tmp_path):
    """Conversation-level near-dup: two conversations that replay the
    same dialogue (one turn changed) pair up; an unrelated one doesn't.
    Drives the ENTRY derivation end to end against the DuckDB twin on a
    crafted events fixture (turn texts ride props)."""
    import duckdb

    import __spark_entry__ as entrymod

    script = ["hello there friend", "how are you today", "fine thanks and you",
              "great weather today", "goodbye then friend"]
    rows = []
    eid = 0
    for user, texts in [
        (1, script),
        (2, script[:4] + ["totally different closer line"]),   # near-dup of 1
        (3, ["completely unrelated words here", "nothing shared at all",
             "zebra quantum flute", "marble xylophone river", "endless unique phrases"]),
    ]:
        for i, tx in enumerate(texts):
            rows.append((eid, f"2024-01-01 00:{i:02d}:00", user, "view", 1.0, tx))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double, props string"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "user_id", "event_type", "value", "props")
    pq = str(tmp_path / "events.parquet")
    df.write.parquet(pq)

    got = sorted(
        (r.id_a, r.id_b)
        for r in entrymod.queries()["conversation_neardup_transcripts"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [("conv-1", "conv-2")]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    oracle = sorted(
        (a, b) for a, b, _ in con.execute(
            entrymod.oracle_sql()["conversation_neardup_transcripts"]
        ).fetchall()
    )
    assert oracle == got


def test_sft_pairs_known_answer(spark):
    from pacts_spark.datapipe.sft import sft_pairs

    rows = [
        ("A", 1, "user", "hi", None, "2025-01-01 00:00:00"),
        ("A", 2, "assistant", "hello!", None, "2025-01-01 00:01:00"),
        ("A", 3, "user", None, None, "2025-01-01 00:02:00"),     # null text in ctx
        ("A", 4, "assistant", "yes?", None, "2025-01-01 00:03:00"),
        ("B", 1, "assistant", "orphan", None, "2025-01-01 00:00:00"),  # no context
        ("C", 1, "user", "q", None, "2025-01-01 00:00:00"),
        ("C", 2, "assistant", None, None, "2025-01-01 00:01:00"),      # null response
        ("D", None, "assistant", "x", None, "2025-01-01 00:00:00"),    # null idx
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).select("conv_id", "turn_idx", "role", "text", "tool",
             F.col("ts_s").cast("timestamp").alias("ts"))
    got = {(r.conv_id, r.turn_idx): (r.prompt, r.response)
           for r in sft_pairs(df).collect()}
    assert got[("A", 2)] == ("user: hi", "hello!")
    assert got[("A", 4)] == ("user: hi\nassistant: hello!\nuser: ", "yes?")
    assert set(got) == {("A", 2), ("A", 4)}  # orphan/null-response/null-idx dropped


def test_sft_pairs_context_caps(spark):
    """Turn cap bounds the frame (only the last N turns render); char
    cap keeps the prompt TAIL; caps off reproduce the uncapped output."""
    from pacts_spark.datapipe.sft import sft_pairs

    rows = [("A", i, "user" if i % 2 else "assistant", f"t{i}", None,
             f"2025-01-01 00:{i:02d}:00") for i in range(1, 10)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
    ).select("conv_id", "turn_idx", "role", "text", "tool",
             F.col("ts_s").cast("timestamp").alias("ts"))

    capped = {r.turn_idx: r.prompt
              for r in sft_pairs(df, max_context_turns=2).collect()}
    # turn 8's context is turns 6,7 only
    assert capped[8] == "assistant: t6\nuser: t7"
    assert capped[2] == "user: t1"  # shorter history passes through

    chars = {r.turn_idx: r.prompt
             for r in sft_pairs(df, max_context_chars=10).collect()}
    full = {r.turn_idx: r.prompt for r in sft_pairs(df).collect()}
    for i, p in chars.items():
        assert len(p) <= 10
        assert full[i].endswith(p)  # tail kept, not head

    import pytest

    with pytest.raises(ValueError, match="max_context_turns"):
        sft_pairs(df, max_context_turns=0)
    with pytest.raises(ValueError, match="max_context_chars"):
        sft_pairs(df, max_context_chars=0)


def test_sft_pairs_capped_twin_parity_on_poisoned_corpus(spark):
    """Cross-engine regression (the round-4 lesson: twins must be
    regression-tested against poisoned corpora, not just the clean
    fixture): the capped-SFT DuckDB twin formula (bounded frame +
    right()) must match the engine on multibyte/astral unicode (both
    engines must count CODE POINTS — probed live: Spark substring and
    DuckDB right agree), NULL texts, and NULL roles."""
    import duckdb
    import pandas as pd

    from pacts_spark.datapipe.sft import sft_pairs

    rows = [
        ("U", 1, "user", "héllo🌍 wörld", None, "2025-01-01 00:00:00"),
        ("U", 2, "assistant", "ok", None, "2025-01-01 00:01:00"),
        ("U", 3, "user", None, None, "2025-01-01 00:02:00"),
        ("U", 4, None, "👩‍👩‍👧 family", None, "2025-01-01 00:03:00"),
        ("U", 5, "assistant", "done🌍", None, "2025-01-01 00:04:00"),
        ("V", 1, "user", "αβγδε" * 20, None, "2025-01-01 00:00:00"),
        ("V", 2, "assistant", "ναι", None, "2025-01-01 00:01:00"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
    ).select("conv_id", "turn_idx", "role", "text", "tool",
             F.col("ts_s").cast("timestamp").alias("ts"))
    got = sorted(
        (r.conv_id, r.turn_idx, r.prompt, r.response)
        for r in sft_pairs(df, max_context_turns=2, max_context_chars=30).collect()
    )

    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts_s"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts_s"])
    con = duckdb.connect()
    con.register("t", pdf.drop(columns=["ts_s"]))
    want = sorted(
        map(
            tuple,
            con.execute(
                """
        WITH o AS (
          SELECT conv_id, turn_idx, role, text,
                 string_agg(coalesce(role,'') || ': ' || coalesce(text,''), chr(10))
                   OVER (PARTITION BY conv_id
                         ORDER BY turn_idx, ts NULLS LAST, coalesce(role,''),
                                  coalesce(text,''), coalesce(tool,'')
                         ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pf
          FROM t WHERE turn_idx IS NOT NULL
        )
        SELECT conv_id, turn_idx,
               CASE WHEN length(pf) > 30 THEN right(pf, 30) ELSE pf END AS prompt,
               text AS response
        FROM o
        WHERE role = 'assistant' AND text IS NOT NULL
          AND pf IS NOT NULL AND pf <> ''
        """
            ).fetchall(),
        )
    )
    assert got == want


def test_sft_pairs_whale_conversation_bounded(spark):
    """One conversation = 50% of rows (the repo's skew shape): with the
    turn cap, total materialized prompt characters stay LINEAR in turns
    (≤ turns * cap * line_len) instead of quadratic — the whale task
    can't build gigabytes. Verified on the actual output mass."""
    from pacts_spark.datapipe.sft import sft_pairs

    n = 2000
    whale = [("W", i, "assistant" if i % 2 == 0 else "user", "x" * 50, None,
              f"2025-01-01 00:00:{i % 60:02d}") for i in range(1, n + 1)]
    others = [(f"c{i}", 1, "user", "q", None, "2025-01-01 00:00:00")
              for i in range(n)]
    df = spark.createDataFrame(
        whale + others,
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
    ).select("conv_id", "turn_idx", "role", "text", "tool",
             F.col("ts_s").cast("timestamp").alias("ts"))

    cap = 4
    total_chars = (
        sft_pairs(df, max_context_turns=cap)
        .agg(F.sum(F.length("prompt")).alias("c"))
        .collect()[0]["c"]
    )
    line_len = len("assistant: ") + 50 + 1  # role prefix + text + sep
    assert total_chars <= n * cap * line_len  # linear bound holds
    # the uncapped mass on this whale is quadratic: ~n²/4 * line_len/2
    uncapped_chars = (
        sft_pairs(df)
        .agg(F.sum(F.length("prompt")).alias("c"))
        .collect()[0]["c"]
    )
    assert uncapped_chars > 20 * total_chars


def test_null_text_dedup_family_alignment(spark):
    """Regression (review round 4): NULL-text docs produce NO simhash
    fingerprint, NO exact-dup edges, NO minhash signatures — aligning
    the engine with the twins' SQL semantics (NULL never equals NULL;
    unnest of a NULL token list emits nothing)."""
    from pacts_spark.datapipe.dedup import (
        exact_duplicate_pairs,
        minhash_signatures,
        simhash64,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a b c d"), (4, "a b c d")],
        "doc_id long, text string",
    )
    assert {r.id for r in simhash64(df).collect()} == {3, 4}
    pairs = {(r.id_a, r.id_b) for r in exact_duplicate_pairs(df).collect()}
    assert pairs == {(3, 4)}          # NULLs never pair
    assert {r.id for r in minhash_signatures(df).collect()} == {3, 4}


def test_zero_vector_never_poisons_ranks_or_pairs(spark):
    """Regression (review round 4, strengthened round 5): an all-zero
    embedding is DEAD input — zero-vector cosine is a cross-engine
    CONVENTION (DuckDB list_cosine_similarity says -1.0, the engine's
    zero-norm guard says 0.0), so the healthy gate now drops it from
    BOTH sides entirely: it takes no rank, gets no neighbors, crosses
    no threshold."""
    from pacts_spark.datapipe.similarity import (
        cosine_pairs,
        cosine_topk,
        healthy_vectors,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assert {r.vec_id for r in healthy_vectors(df).collect()} == {1, 2}
    nn = {r.vec_id: r.nn_id for r in cosine_topk(df, k=1).collect()}
    assert nn == {1: 2, 2: 1}             # zero vector absent both sides
    pairs = {(r.id_a, r.id_b) for r in cosine_pairs(df, threshold=0.5).collect()}
    assert pairs == {(1, 2)}              # zero vector crosses no threshold


def test_healthy_vectors_gate_and_twin_parity_on_poisoned_corpus(spark, tmp_path):
    """Regression (round 5 poisoned-fixture sweep): one NULL/ragged/NaN/
    huge vector must degrade ONE row, never crash a kernel (numpy batch
    build / integer-micro cast) or a DuckDB twin (list_cosine_similarity
    raises on NULL elements; CAST(NaN AS BIGINT) raises). The engine gate
    is similarity.healthy_vectors; the twins state the SAME predicate via
    _HEALTHY_EMB_SQL — this runs both against a poisoned mini-corpus."""
    import duckdb

    import __spark_entry__ as entrymod
    from pacts_spark.datapipe.clusters import kmeans_assign
    from pacts_spark.datapipe.similarity import cosine_topk, healthy_vectors

    dim = 64
    base = [0.5] * dim
    near = [0.5] * (dim - 1) + [0.45]
    anti = [-0.5] * dim
    rows = [
        (1, base), (2, near), (3, anti),
        (10, None),                                  # NULL vector
        (11, [0.5] * (dim // 2)),                    # ragged
        (12, [float("nan")] * dim),                  # NaN elements
        (13, [float("inf")] + [0.0] * (dim - 1)),    # Inf element
        (14, [1e30] * dim),                          # unquantizable magnitude
        (15, [None] + [0.25] * (dim - 1)),           # NULL element
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # unit: the gate keeps exactly the healthy population (both dim modes)
    assert {r.vec_id for r in healthy_vectors(df).collect()} == {1, 2, 3}
    assert {r.vec_id for r in healthy_vectors(df, dim=dim).collect()} == {1, 2, 3}

    # numpy-kernel path: no crash, poisoned ids absent from both sides
    nn = {r.vec_id: r.nn_id for r in cosine_topk(df, k=1, dim=dim).collect()}
    assert nn == {1: 2, 2: 1, 3: 2}  # anti's nn is the less-anti 'near'

    # integer-micro path: kmeans assigns ONLY healthy rows, never raises
    got = kmeans_assign(df, k=2, iters=1, dim=dim)
    assert {r.vec_id for r in got.collect()} == {1, 2, 3}

    # twin parity: the ACTUAL cosine_nn oracle SQL on the poisoned corpus
    pq = str(tmp_path / "emb.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    oracle = con.execute(entrymod.oracle_sql()["cosine_nn_embeddings"]).df()
    assert {(int(r.vec_id), int(r.nn_id)) for _, r in oracle.iterrows()} == {
        (1, 2), (2, 1), (3, 2)
    }


def test_session_transcript_null_ts_orders_last_matching_twin(spark, tmp_path):
    """Regression (round 5 probe): Spark array_sort places a NULL struct
    field FIRST while the twin's string_agg ORDER BY defaults NULLS
    LAST — a session mixing a NULL-ts event with real ones would emit
    its type token at opposite ends. The engine coalesces the sort key
    to BIGINT max (NULLS LAST, the same rule the session-assignment
    window pins); this runs engine and the ACTUAL twin SQL side by side
    on such a session."""
    import datetime

    import duckdb

    import __spark_entry__ as entrymod
    from pacts_spark.datapipe.sessions import session_transcripts

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (1, 10, t0, "a"),
        (2, 10, t0 + datetime.timedelta(seconds=5), "b"),
        (3, 10, None, "z"),          # NULL ts joins the last session, sorts LAST
        (4, 10, t0 + datetime.timedelta(seconds=6), "c"),
        (5, 11, None, "only"),       # NULL-ts-only user: its own session
        (6, 12, t0, "zz"),           # FULLY tied (ts, event_id) pair:
        (6, 12, t0, "aa"),           # type itself is the final tiebreak
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        (r.user_id, r.session_idx): r.transcript
        for r in session_transcripts(df, gap_seconds=900).collect()
    }
    assert got[(10, 1)] == "a b c z"   # NULL-ts token LAST, not first
    assert got[(11, 1)] == "only"
    assert got[(12, 1)] == "aa zz"     # tied rows order by type, both engines

    pq = str(tmp_path / "ev.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    oracle = {
        (r[0], r[1]): r[5]
        for r in con.execute(
            entrymod.oracle_sql()["session_transcripts_events"]
        ).fetchall()
    }
    assert {k: got[k] for k in oracle} == {
        k: oracle[k] for k in oracle
    } and len(oracle) == len(got)


def test_ivf_quantized_topk_empty_and_all_unhealthy_corpus(spark):
    """Regression (round 5 empty-fixture sweep): zero trainable seeds
    (empty corpus, or every vector unhealthy) must yield an EMPTY frame
    with the contract schema — np.array([]) is 1-D and the assign
    matmul raised AxisError."""
    from pacts_spark.datapipe.similarity import ivf_quantized_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = ivf_quantized_topk(empty, n_cells=8, nprobe=2, k=1, dim=4)
    assert out.columns == ["vec_id", "nn_id", "rank"] and out.count() == 0

    allbad = spark.createDataFrame(
        [(1, None), (2, [float("nan")] * 4)],
        "vec_id long, embedding array<double>",
    )
    out2 = ivf_quantized_topk(allbad, n_cells=8, nprobe=2, k=1, dim=4)
    assert out2.count() == 0


def test_preference_pairs_known_answer_and_whale_linearity(spark):
    """preference_pairs: consecutive pairing within a duplicated
    (conv, turn_idx) slot — k regenerations emit k-1 pairs (linear,
    never all-pairs), chosen = the later response in the pinned total
    order, NULL-text and non-assistant rows never participate."""
    import datetime

    from pacts_spark.datapipe.sft import preference_pairs

    t0 = datetime.datetime(2026, 1, 1)
    sec = datetime.timedelta(seconds=1)
    rows = [
        # conv A, slot 2: three regenerations -> 2 consecutive pairs
        ("A", 2, "assistant", "r1", None, t0),
        ("A", 2, "assistant", "r2", None, t0 + sec),
        ("A", 2, "assistant", "r3", None, t0 + 2 * sec),
        # conv A, slot 1: single response -> no pair
        ("A", 1, "assistant", "solo", None, t0),
        # conv B, slot 1: user duplicate -> not a preference pair
        ("B", 1, "user", "u1", None, t0),
        ("B", 1, "user", "u2", None, t0 + sec),
        # conv B, slot 2: NULL-text regen never pairs
        ("B", 2, "assistant", None, None, t0),
        ("B", 2, "assistant", "kept", None, t0 + sec),
        # conv C, slot 3: NULL ts sorts LAST -> it is the chosen one
        ("C", 3, "assistant", "zz-early", None, t0),
        ("C", 3, "assistant", "aa-null-ts", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        (r.conv_id, r.turn_idx, r.rejected, r.chosen)
        for r in preference_pairs(df).collect()
    }
    assert got == {
        ("A", 2, "r1", "r2"),
        ("A", 2, "r2", "r3"),
        ("C", 3, "zz-early", "aa-null-ts"),
    }


def test_quantize_int8_known_answer(spark, tmp_path):
    """Symmetric int8 quantization: exact hand-computed codes/stats, the
    half-away-from-zero boundary (-63.5 -> -64) both engines share, and
    the ACTUAL twin SQL on the same frame."""
    import duckdb

    import __spark_entry__ as entrymod
    from pacts_spark.datapipe.embedding import quantize_int8_stats

    vec = [1.27, -0.635, 0.0] + [0.0] * 61  # scale = 1.27/127 = 0.01
    df = spark.createDataFrame(
        [(1, vec)], "vec_id long, embedding array<double>"
    )
    r = quantize_int8_stats(df, dim=64).collect()[0]
    assert r.scale_micro == 10_000
    # codes: 127, round(-63.5) = -64 (half AWAY from zero), zeros
    assert r.code_sum == 127 - 64
    assert (r.code_min, r.code_max) == (-64, 127)
    # reconstruction err: |-0.635 - (-64 * 0.01)| = 0.005
    assert r.max_err_micro == 5_000

    pq = str(tmp_path / "emb.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    o = con.execute(
        entrymod.oracle_sql()["quantize_int8_embeddings"]
    ).fetchall()[0]
    assert tuple(o) == (1, 10_000, 63, -64, 127, 5_000)
