"""Corpus-curation operators: PII scan/redact, benchmark
decontamination, token-window chunking (operators/curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphiti_spark.operators.curation import (
    chunk_tokens,
    decontaminate,
    dedup_lines,
    pii_redact,
    pii_scan,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pii_scan_counts_each_type(spark):
    docs = _docs(
        spark,
        [
            (1, "write to alice.smith+tag@mail.example.org for details"),
            (2, "server at 192.168.1.254 then 10.0.0.7 responded"),
            (3, "call +44-201-555-0142 today"),
            (4, "plain prose with no identifiers at all"),
            (5, "bob@ex.co and 8.8.8.8 and +1-800-555-0100 together"),
        ],
    )
    got = {r.id: r for r in pii_scan(docs).collect()}
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (1, 0, 0)
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 2, 0)
    assert (got[3].n_email, got[3].n_ipv4, got[3].n_phone) == (0, 0, 1)
    assert got[4].n_pii == 0
    assert (got[5].n_email, got[5].n_ipv4, got[5].n_phone) == (1, 1, 1)
    assert got[5].n_pii == 3


def test_pii_redact_removes_everything_scan_finds(spark):
    docs = _docs(
        spark,
        [
            (1, "alice@example.com met 10.1.2.3 and dialed +1-555-123-4567"),
            (2, "no pii here"),
        ],
    )
    red = pii_redact(docs)
    rows = {r.id: r for r in red.collect()}
    assert rows[1].n_redacted == 3
    assert "<EMAIL>" in rows[1].redacted
    assert "<IPV4>" in rows[1].redacted
    assert "<PHONE>" in rows[1].redacted
    assert rows[2].redacted == "no pii here"
    # a second scan over the redacted text must find nothing
    rescanned = pii_scan(
        red.select(F.col("id").alias("doc_id"), F.col("redacted").alias("text"))
    )
    assert all(r.n_pii == 0 for r in rescanned.collect())


def test_decontaminate_flags_verbatim_span_only(spark):
    span = " ".join(f"w{i}" for i in range(13))  # exactly one 13-gram
    bench = _docs(spark, [(100, f"intro {span} outro")])
    docs = _docs(
        spark,
        [
            (1, f"leading text {span} trailing text"),  # contains the span
            (2, span.replace("w5", "x5")),  # one token differs -> clean
            (3, "completely unrelated words only"),
        ],
    )
    got = {r.id: r for r in decontaminate(docs, bench).collect()}
    assert got[1].contaminated and got[1].n_contaminated_grams == 1
    assert not got[2].contaminated
    assert not got[3].contaminated


def test_decontaminate_short_docs_never_match(spark):
    bench = _docs(spark, [(100, "a b c d e f g h i j k l m")])
    docs = _docs(spark, [(1, "a b c"), (2, "")])
    got = decontaminate(docs, bench).collect()
    assert all(not r.contaminated for r in got)
    assert len(got) == 2


def test_dedup_lines_keeps_first_occurrence_only(spark):
    docs = _docs(
        spark,
        [
            (1, "unique alpha\nshared boilerplate\nunique beta"),
            (2, "shared boilerplate\nunique gamma"),
            (3, "Shared Boilerplate"),  # normalization: trim+lower match
        ],
    )
    got = {r.id: r for r in dedup_lines(docs).collect()}
    assert got[1].text_dedup == "unique alpha\nshared boilerplate\nunique beta"
    assert got[1].n_kept == 3 and got[1].n_dropped == 0
    assert got[2].text_dedup == "unique gamma"  # boilerplate dropped
    assert got[2].n_kept == 1 and got[2].n_dropped == 1
    assert got[3].text_dedup == "" and got[3].n_kept == 0  # fully boilerplate
    assert got[3].n_dropped == 1


def test_dedup_lines_within_doc_repeats_collapse(spark):
    docs = _docs(spark, [(1, "same line\nmiddle\nsame line")])
    got = dedup_lines(docs).collect()[0]
    assert got.text_dedup == "same line\nmiddle"  # second copy dropped
    assert (got.n_kept, got.n_dropped) == (2, 1)


def test_dedup_lines_regex_metachar_separator_is_literal(spark):
    # line_sep is a LITERAL separator: "." or "|" must not be read as a
    # regex by the split (which would explode per-character/empty
    # fragments while concat_ws rejoined literally).
    docs = _docs(spark, [(1, "alpha.beta.alpha"), (2, "beta.gamma")])
    got = {r.id: r for r in dedup_lines(docs, line_sep=".").collect()}
    assert got[1].text_dedup == "alpha.beta"
    assert (got[1].n_kept, got[1].n_dropped) == (2, 1)
    assert got[2].text_dedup == "gamma"
    assert (got[2].n_kept, got[2].n_dropped) == (1, 1)


def test_chunk_tokens_grid_and_coverage(spark):
    toks = [f"t{i}" for i in range(10)]
    docs = _docs(spark, [(1, " ".join(toks))])
    rows = sorted(
        chunk_tokens(docs, size=4, overlap=1).collect(),
        key=lambda r: r.chunk_idx,
    )
    # stride 3, starts while s <= n - overlap = 9: 1, 4, 7
    assert [r.start_token for r in rows] == [1, 4, 7]
    assert [r.chunk_idx for r in rows] == [0, 1, 2]
    assert [r.n_tokens for r in rows] == [4, 4, 4]
    assert rows[0].chunk_text == "t0 t1 t2 t3"
    assert rows[2].chunk_text == "t6 t7 t8 t9"
    # consecutive chunks overlap by exactly `overlap` tokens
    assert rows[0].chunk_text.split()[-1:] == rows[1].chunk_text.split()[:1]
    # every token covered
    covered = set()
    for r in rows:
        covered.update(r.chunk_text.split())
    assert covered == set(toks)


def test_chunk_tokens_truncated_tail_and_tiny_doc(spark):
    docs = _docs(spark, [(1, "a b c d e"), (2, "solo")])
    rows = chunk_tokens(docs, size=4, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.id, []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # stride 2, n=5, starts while s <= 3: 1, 3 — final chunk truncates
    assert [(r.start_token, r.n_tokens) for r in d1] == [(1, 4), (3, 3)]
    assert d1[1].chunk_text == "c d e"
    # a doc shorter than one window still yields exactly one chunk
    assert [(r.start_token, r.n_tokens, r.chunk_text) for r in by_doc[2]] == [
        (1, 1, "solo")
    ]


def test_pack_sequences_segments_and_straddle(spark):
    from graphiti_spark.operators.curation import pack_sequences

    rows = [
        (1, "a b c d e"),            # 5 toks
        (2, "f g h i j k l"),        # 7: straddles seq0/seq1
        (3, ""),                     # empty: emits nothing
        (4, "m n"),                  # 2
        (5, "o p q r s t u v w x"),  # 10: straddles seq1/seq2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        tuple(r)
        for r in pack_sequences(docs, seq_len=8)
        .orderBy("seq_id", "seq_token_start")
        .collect()
    ]
    # (seq_id, id, doc_token_start, seq_token_start, n_tokens, seq_n_tokens)
    assert got == [
        (0, 1, 0, 0, 5, 8),
        (0, 2, 0, 5, 3, 8),
        (1, 2, 3, 0, 4, 8),
        (1, 4, 0, 4, 2, 8),
        (1, 5, 0, 6, 2, 8),
        (2, 5, 2, 0, 8, 8),
    ]


def test_pack_sequences_partial_tail_and_buckets(spark):
    """Cross-bucket offsets must be globally consistent (ids straddle
    bucket_size=4) and the trailing partial sequence reports its true
    length."""
    from graphiti_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, "t " * 3) for i in range(1, 8)],  # 7 docs x 3 toks = 21
        "doc_id long, text string",
    )
    out = pack_sequences(docs, seq_len=8, bucket_size=4).collect()
    assert sum(r.n_tokens for r in out) == 21
    tail = [r for r in out if r.seq_id == 2]
    assert all(r.seq_n_tokens == 5 for r in tail)  # 21 - 16
    # contiguity: every sequence's segments tile [0, seq_n_tokens)
    for sid in {r.seq_id for r in out}:
        segs = sorted(
            (r.seq_token_start, r.n_tokens, r.seq_n_tokens)
            for r in out
            if r.seq_id == sid
        )
        pos = 0
        for s, n, total in segs:
            assert s == pos
            pos += n
        assert pos == segs[0][2]


def test_pack_sequences_matches_bruteforce_on_random_corpora(spark):
    """Randomized hardening (fixed seeds): pack_sequences must equal the
    driver-side concat-and-chunk reference for arbitrary doc lengths,
    including empty docs and odd bucket boundaries."""
    import random

    from graphiti_spark.operators.curation import pack_sequences

    L = 7
    for seed in (1, 2):
        rng = random.Random(seed)
        corpus = {
            did: rng.randint(0, 15) for did in range(1, 12)
        }  # token counts
        expected, cursor, total = set(), 0, sum(corpus.values())
        for did in sorted(corpus):
            n = corpus[did]
            if n == 0:
                continue
            start, end = cursor, cursor + n
            cursor = end
            for sid in range(start // L, (end - 1) // L + 1):
                g0, g1 = max(start, sid * L), min(end, (sid + 1) * L)
                expected.add(
                    (
                        sid,
                        did,
                        g0 - start,
                        g0 - sid * L,
                        g1 - g0,
                        min(L, total - sid * L),
                    )
                )
        docs = spark.createDataFrame(
            [(did, " ".join(["t"] * n)) for did, n in corpus.items()],
            "doc_id long, text string",
        )
        got = {
            tuple(r)
            for r in pack_sequences(docs, seq_len=L, bucket_size=3).collect()
        }
        assert got == expected, f"seed {seed}: {got ^ expected}"


def test_strip_host_boilerplate_is_host_scoped(spark):
    """All copies of an over-threshold line go (no canonical survivor,
    unlike dedup_lines); the same line on a small host (< min_pages)
    survives; under-threshold lines survive on big hosts."""
    from graphiti_spark.functions.smalldf import literal_df
    from graphiti_spark.operators.curation import strip_host_boilerplate

    rows = [
        # big.com: 4 pages; "NAV" on all 4, "rare" on 1 (25% < 50%)
        (1, "big.com", "NAV\nalpha"),
        (2, "big.com", "nav \nbeta\nrare"),
        (3, "big.com", "NAV\ngamma"),
        (4, "big.com", "NAV\ndelta"),
        # small.org: 2 pages (< min_pages=3) sharing the same nav line
        (5, "small.org", "NAV\nepsilon"),
        (6, "small.org", "NAV\nzeta"),
    ]
    docs = literal_df(
        spark, rows,
        [("doc_id", "bigint"), ("host", "string"), ("text", "string")],
    )
    out = {
        r["id"]: r
        for r in strip_host_boilerplate(docs, min_pages=3, frac=0.5).collect()
    }
    # big.com: nav cut everywhere (normalization: trim+lower matched
    # "nav " to "NAV"), rare kept
    assert out[1]["text_clean"] == "alpha"
    assert out[2]["text_clean"] == "beta\nrare"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (2, 1)
    assert out[4]["text_clean"] == "delta"
    # small.org: below min_pages — untouched
    assert out[5]["text_clean"] == "NAV\nepsilon"
    assert out[5]["n_dropped"] == 0
    # order preserved on survivors, host column carried through
    assert out[3]["host"] == "big.com"


def test_strip_host_boilerplate_can_empty_a_doc(spark):
    from graphiti_spark.functions.smalldf import literal_df
    from graphiti_spark.operators.curation import strip_host_boilerplate

    rows = [
        (1, "h", "same"),
        (2, "h", "same"),
        (3, "h", "same\nextra"),
    ]
    docs = literal_df(
        spark, rows,
        [("doc_id", "bigint"), ("host", "string"), ("text", "string")],
    )
    out = {
        r["id"]: r
        for r in strip_host_boilerplate(docs, min_pages=3, frac=0.5).collect()
    }
    assert (out[1]["text_clean"], out[1]["n_kept"], out[1]["n_dropped"]) == ("", 0, 1)
    assert out[3]["text_clean"] == "extra"


def test_semantic_decontaminate_flags_paraphrase_neighbors(spark):
    """Identical direction → cos 1.0 flagged; orthogonal → 0.0 clean;
    zero-norm vectors guard to 0.0 instead of NaN."""
    from graphiti_spark.operators.curation import semantic_decontaminate

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0]),   # same direction, scaled -> cos 1.0
            (2, [0.0, 3.0, 0.0]),   # orthogonal -> cos 0.0
            (3, [1.0, 1.0, 0.0]),   # cos ~0.7071
            (4, [0.0, 0.0, 0.0]),   # zero norm -> guard to 0.0
            (5, None),              # unembedded -> NOT silently clean
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["id"]: (r["max_benchmark_cos"], r["n_matches"], r["contaminated"],
                  r["checked"])
        for r in semantic_decontaminate(
            corpus, bench, threshold=0.7
        ).collect()
    }
    assert out == {
        1: (1.0, 1, True, True),
        2: (0.0, 0, False, True),
        3: (0.7071, 1, True, True),
        4: (0.0, 0, False, True),
        # ADVICE r4: a NULL-embedding doc is flagged UNCHECKED (null
        # verdicts), distinguishable from a verified-clean doc
        5: (None, None, None, False),
    }


def test_semantic_decontaminate_empty_benchmark_returns_clean_rows(spark):
    """An empty benchmark must NOT erase the corpus: every doc comes
    back (max 0.0, 0 matches, clean) so downstream joins survive."""
    from graphiti_spark.operators.curation import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    bench = corpus.filter("vec_id < 0")  # empty
    out = sorted(
        map(tuple, semantic_decontaminate(corpus, bench).collect())
    )
    assert out == [(1, 0.0, 0, False, True), (2, 0.0, 0, False, True)]


def test_curate_semantic_dedup_keeps_docs_without_embeddings(spark, tmp_path):
    """The curation SemDeDup stage drops semantic duplicates only: a
    doc with no embedding row (or a null embedding) survives and is
    counted as uncovered, never lost in the join."""
    from graphiti_spark.operators.dedup_docs import semantic_dedup_docs

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], "doc_id long, text string"
    )
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),  # duplicate of 1
            (3, [0.0, 1.0, 0.0]),
            (4, None),  # row present, embedding missing
            (9, [0.0, 0.0, 1.0]),  # no such doc
        ],
        "vec_id long, embedding array<float>",
    ).write.parquet(path)
    kept, uncovered = semantic_dedup_docs(
        docs, spark.read.parquet(path), n_cells=2, threshold=0.99
    )
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 5, 6]
    assert sorted(r.doc_id for r in uncovered.collect()) == [4, 5, 6]
