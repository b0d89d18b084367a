"""Semantic unit tests for the round-5 dedup operators: known-answer
constructions (a passage planted in two documents must be flagged in
both and nowhere else) and structural invariants of the SemDeDup-style
pruning (one representative per bucket, verdicts consistent with the
cosine bar)."""

from golang_etl_spark.operators.dedup import (
    SEMANTIC_PRUNE_MIN,
    SUBSTR_K,
    dedup_exact_substring,
    dedup_semantic_prune,
)


def test_exact_substring_flags_planted_passage(spark, tmp_path):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    assert len(shared.split()) == SUBSTR_K
    docs = [
        (1, "unique one two three four five six seven eight nine ten " + shared),
        (2, shared + " completely different tail words follow here nothing repeats"),
        (3, "totally disjoint body with plenty of distinct tokens spread around twelve"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.write.parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in dedup_exact_substring(spark, str(tmp_path)).collect()
    }
    # the planted window is the ONLY cross-doc window
    assert out[1]["n_shared"] == 1
    assert out[2]["n_shared"] == 1
    assert out[3]["n_shared"] == 0
    assert 0 < out[1]["dup_frac"] < 1
    # window positions: len(tokens) - K + 1
    for did, (_, text) in zip((1, 2, 3), docs):
        assert out[did]["n_windows"] == len(text.split()) - SUBSTR_K + 1


def test_exact_substring_identical_docs_fully_covered(spark, tmp_path):
    text = "nine distinct words make a full window plus one more"
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")
    rows = dedup_exact_substring(spark, str(tmp_path)).collect()
    assert {r["dup_frac"] for r in rows} == {1.0}


def test_semantic_prune_invariants(spark, sf_dir):
    rows = dedup_semantic_prune(spark, sf_dir).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, members in by_bucket.items():
        reps = [m for m in members if m["verdict"] == "rep"]
        assert len(reps) == 1, f"bucket {bucket}: {len(reps)} reps"
        assert reps[0]["vec_id"] == min(m["vec_id"] for m in members)
        # cos_to_rep is round(cos, 6) while the verdict thresholds the
        # UNROUNDED cosine — allow the rounding step's half-ulp slack
        # so a cosine just under the bar that rounds onto it can't
        # flake the gate on a regenerated fixture
        for m in members:
            if m["verdict"] == "drop":
                assert m["cos_to_rep"] >= SEMANTIC_PRUNE_MIN - 5e-7
            elif m["verdict"] == "keep":
                assert m["cos_to_rep"] < SEMANTIC_PRUNE_MIN + 5e-7


def test_jaccard_prefix_filter_is_complete(spark, sf_dir):
    """Prefix filtering must be LOSSLESS at the threshold: the
    PPJoin-style operator's pairs must equal the brute-force all-pairs
    exact-Jaccard ground truth (computed without any filtering), not
    just match an oracle that replays the same pruning."""
    import duckdb

    from golang_etl_spark.operators.dedup import PPJ_T, dedup_jaccard_prefix

    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup_jaccard_prefix(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    truth = con.execute(f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, UNNEST(list_transform(
            string_split_regex(trim(text), '\\s+'), x -> lower(x))) AS token
          FROM documents),
        sizes AS (SELECT doc_id, COUNT(*) d_size FROM toks GROUP BY doc_id),
        inter AS (
          SELECT ta.doc_id a, tb.doc_id b, COUNT(*) n
          FROM toks ta JOIN toks tb
            ON tb.token = ta.token AND ta.doc_id < tb.doc_id
          GROUP BY 1, 2)
        SELECT a, b, ROUND(n * 1.0 / (sa.d_size + sb.d_size - n), 6) AS j
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
        WHERE n * 1.0 / (sa.d_size + sb.d_size - n) >= {PPJ_T}
    """).fetchall()
    want = {(a, b): j for a, b, j in truth}
    assert set(got) == set(want), (
        f"prefix filter lost {len(set(want) - set(got))} / gained "
        f"{len(set(got) - set(want))} pairs"
    )
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


def test_containment_catches_short_in_long_that_jaccard_misses(spark, tmp_path):
    """The asymmetric case the operator exists for: a short doc whose
    shingles are ALL inside a much longer doc. Containment = 1.0, but
    the long side's extra shingles dilute Jaccard below JACCARD_MIN —
    so dedup_ngram_jaccard must NOT pair them while
    dedup_containment_ngram MUST."""
    from golang_etl_spark.operators.dedup import (
        JACCARD_MIN,
        dedup_containment_ngram,
        dedup_ngram_jaccard,
    )

    short = "alpha bravo charlie delta echo"
    long = (
        short
        + " foxtrot golf hotel india juliet kilo lima mike november"
        " oscar papa quebec romeo sierra tango uniform victor whiskey"
        " xray yankee zulu one two three four five six seven eight"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long),
         (3, "entirely different body of text with no overlap anywhere here")],
        "doc_id long, text string",
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")

    cont = {
        (r["doc_id_a"], r["doc_id_b"]): r
        for r in dedup_containment_ngram(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in cont, "short-in-long pair missed by containment"
    assert cont[(1, 2)]["containment"] == 1.0
    assert cont[(1, 2)]["jaccard"] < JACCARD_MIN, (
        "fixture not asymmetric enough — jaccard should sit below the bar"
    )
    assert not any(3 in pair for pair in cont), "disjoint doc paired"

    jacc_pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    assert (1, 2) not in jacc_pairs, (
        "jaccard already catches this pair — containment adds nothing"
    )


def test_band_pairs_one_canonical_pair_per_colliding_couple(spark):
    from golang_etl_spark.operators.dedup import band_pairs

    bands = spark.createDataFrame(
        [
            # 7 and 3 collide in bands 0, 1 and 2: still one pair
            (7, 0, "k0"), (7, 1, "k1"), (7, 2, "k2"), (7, 3, "x7"),
            (3, 0, "k0"), (3, 1, "k1"), (3, 2, "k2"), (3, 3, "k3"),
            # 5 collides with 3 in band 3 only
            (5, 0, "y5"), (5, 1, "z5"), (5, 2, "w5"), (5, 3, "k3"),
            # 9 carries the key "k1" in band 0, not band 1: no collision
            (9, 0, "k1"), (9, 1, "v9"), (9, 2, "u9"), (9, 3, "t9"),
        ],
        "doc_id long, band_id int, band_key string",
    )
    pairs = band_pairs(bands)
    assert pairs.columns == ["doc_id_a", "doc_id_b"]
    assert sorted(tuple(r) for r in pairs.collect()) == [(3, 5), (3, 7)]


def test_band_pairs_carry_payload_to_both_sides(spark):
    from golang_etl_spark.operators.dedup import band_pairs

    bands = spark.createDataFrame(
        [(4, 70, 0, 1), (4, 70, 1, 2), (2, 30, 0, 1), (2, 30, 1, 2), (8, 90, 0, 1)],
        "doc_id long, fp long, band_id int, band_key long",
    )
    pairs = band_pairs(bands)
    assert pairs.columns == ["doc_id_a", "fp_a", "doc_id_b", "fp_b"]
    rows = sorted(tuple(r) for r in pairs.collect())
    # canonical a < b, no item paired with itself, each payload on its own side
    assert rows == [(2, 30, 4, 70), (2, 30, 8, 90), (4, 70, 8, 90)]


def test_jaccard_verify_is_exact_set_jaccard(spark):
    from golang_etl_spark.operators.dedup import JACCARD_MIN, jaccard_verify

    left = {1: "abcd", 3: "abcdefg", 6: "abx"}
    right = {2: "abcde", 4: "abcdefghij", 5: "pq"}
    cands = [(1, 2), (3, 4), (1, 5), (6, 2)]
    arrs_left = spark.createDataFrame(
        [(k, list(v)) for k, v in left.items()], "doc_id long, sh array<string>"
    )
    arrs_right = spark.createDataFrame(
        [(k, list(v)) for k, v in right.items()], "doc_id long, sh array<string>"
    )
    cand = spark.createDataFrame(cands, "batch_doc long, corpus_doc long")
    got = {
        (r["batch_doc"], r["corpus_doc"]): r["jaccard"]
        for r in jaccard_verify(cand, arrs_left, arrs_right).collect()
    }
    want = {}
    for a, b in cands:
        sa, sb = set(left[a]), set(right[b])
        jac = len(sa & sb) / len(sa | sb)
        if jac >= JACCARD_MIN:
            want[(a, b)] = round(jac, 6)
    # 4/5 and 7/10 (exactly the bar) pass; 2/6 and the empty
    # intersection (1, 5) do not
    assert want == {(1, 2): 0.8, (3, 4): 0.7}
    assert got == want


def test_minhash_bands_match_duckdb_twin(spark):
    # one md5 per shingle, then (a_i * x + b_i) mod p: Spark's grouped
    # MIN aggregates and DuckDB's list_min(list_transform(...)) must
    # give the same band rows, so the MinHash oracles stay exact
    import duckdb
    import pandas as pd

    from golang_etl_spark.operators.dedup import (
        LSH_BANDS,
        _minhash_bands_duck,
        _posting_from_docs,
        minhash_bands,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "two words"),  # shorter than a shingle: one whole-text shingle
        (4, "a b c a b c a b c"),  # repeated shingles count once
        (5, "  padded   text with   irregular spacing here  "),
    ]
    posting = _posting_from_docs(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    got = sorted(tuple(r) for r in minhash_bands(posting).collect())
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    bands = f"WITH {_minhash_bands_duck('')} SELECT doc_id, band_id, band_key FROM bands"
    want = sorted(con.execute(bands).fetchall())
    assert len(got) == len(docs) * LSH_BANDS
    assert got == want
