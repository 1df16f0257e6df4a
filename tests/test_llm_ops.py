"""Cross-checks for the approximate/rows-only LLM-pipeline operators:
approximate tiers are validated against their exact counterparts, and the
Pandas-UDF paths for determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boxoffice_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
from boxoffice_spark.operators.similarity import (
    ZeroVectorError,
    ann_lsh_topk,
    cluster_balance,
    cosine_topk,
    hard_negative_topk,
    near_dup_pairs_arrow,
)
from boxoffice_spark.queries.multimodal import m_asset_features
from boxoffice_spark.tables import table


def test_minhash_recall_vs_exact(spark, sf_dir):
    """Every strongly-similar pair (exact jaccard >= 0.8) must be found by
    the MinHash-LSH candidate generator (8 tables at 0.5 threshold)."""
    docs = table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", block_cols=[], n=3, threshold=0.8
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    missed = exact - approx
    assert len(missed) <= max(1, len(exact) // 10), f"LSH recall too low: missed {missed}"


def test_ann_lsh_topk_recall_vs_exact(spark, sf_dir):
    """LSH ANN top-10 must recover most of the exact cosine top-10."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10).collect()
    approx = ann_lsh_topk(emb, queries, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8, f"mean ANN recall too low: {recalls}"


def test_embedding_near_dup_lsh_planted_recall(spark, sf_dir):
    """The noisy regime the registered query (exact duplicates, recall
    provably 1) cannot cover: perturbed copies (cos ~0.9999, NOT identical,
    so sign buckets can genuinely flip) must still be recovered by the
    banded hyperplane tables, and the exact rerank must keep precision at
    1.0 (every emitted pair truly >= threshold)."""
    from boxoffice_spark.operators.similarity import embedding_near_dup_lsh

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.filter(F.col("vec_id") % 25 == 0)
    pert = base.withColumn(
        "embedding",
        F.transform("embedding", lambda x, i: x * (1.0 + 0.01 * ((i % 3) - 1))),
    ).withColumn("vec_id", F.col("vec_id") + F.lit(1000000))
    pairs = embedding_near_dup_lsh(
        emb.unionByName(pert), id_col="vec_id", vec_col="embedding", threshold=0.99
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    planted = {(r.vec_id, r.vec_id + 1000000) for r in base.select("vec_id").collect()}
    assert planted, "fixture should yield planted perturbation pairs"
    assert found <= planted, f"false positives survived exact rerank: {found - planted}"
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"LSH near-dup recall too low: {recall}"
    assert all(r.cos_sim >= 0.99 for r in pairs)


def test_asset_features_deterministic(spark, sf_dir):
    """mapInPandas feature extraction must be repeatable row-for-row."""
    a = sorted(map(tuple, m_asset_features(spark, sf_dir).collect()))
    b = sorted(map(tuple, m_asset_features(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_bm25_repeated_query_term_not_double_counted(spark):
    """A term repeated in a query's term list must score identically to
    listing it once (regression: duplicate (query_id, term) rows summed
    that term's contribution twice)."""
    from boxoffice_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple cherry date")],
        "doc_id long, text string",
    )
    once = sorted(
        map(tuple, bm25_topk(docs, "doc_id", "text", [(1, ["apple"])]).collect())
    )
    twice = sorted(
        map(tuple, bm25_topk(docs, "doc_id", "text", [(1, ["apple", "apple"])]).collect())
    )
    assert once == twice and len(once) > 0


def test_content_chunks_cover_and_share(spark, sf_dir):
    """CDC chunks must tile each document exactly (contiguous, full
    coverage), be deterministic, and near-duplicate documents must share
    most chunk hashes (the property whole-doc fingerprints lack)."""
    import re

    from boxoffice_spark.operators.dedup import content_chunks, ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    chunks = content_chunks(
        docs, "doc_id", "text", avg_chunk=32, min_chunk=8, max_chunk=128
    ).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    texts = {r.doc_id: r.text for r in docs.collect()}
    for did, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_no)
        norm = re.sub(r"\s+", " ", texts[did].lower()).strip().encode("utf-8")
        assert rows[0].start == 0
        for prev, cur in zip(rows, rows[1:]):
            assert cur.start == prev.start + prev.n_bytes  # contiguous tiling
        assert rows[-1].start + rows[-1].n_bytes == len(norm)  # full coverage

    # near-dups (exact jaccard >= 0.8) share the majority of chunk hashes
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", block_cols=[], threshold=0.8).collect()
    assert pairs
    checked = 0
    for p in pairs:
        ha = {r.chunk_hash for r in by_doc[p.id_a]}
        hb = {r.chunk_hash for r in by_doc[p.id_b]}
        if min(len(ha), len(hb)) < 3:
            continue  # doc fit in 1-2 chunks; the edit IS the chunk
        checked += 1
        overlap = len(ha & hb) / min(len(ha), len(hb))
        assert overlap >= 0.5, f"near-dup pair shares too few chunks: {overlap}"
    assert checked > 0


def test_chunk_dup_pairs_matches_bruteforce(spark, sf_dir):
    """The inverted-index pair join must equal the brute-force definition:
    all doc pairs sharing >= 3 distinct chunk hashes with containment
    (shared / smaller doc's chunk count) >= 0.5."""
    from itertools import combinations

    from boxoffice_spark.operators.dedup import chunk_dup_pairs, content_chunks

    docs = table(spark, sf_dir, "documents")
    kw = dict(avg_chunk=32, min_chunk=8, max_chunk=128)
    got = {
        (r.id_a, r.id_b): (r.shared_chunks, r.containment)
        for r in chunk_dup_pairs(docs, "doc_id", "text", **kw).collect()
    }

    sets: dict[int, set[str]] = {}
    for r in content_chunks(docs, "doc_id", "text", **kw).collect():
        sets.setdefault(r.doc_id, set()).add(r.chunk_hash)
    expected = {}
    for a, b in combinations(sorted(sets), 2):
        shared = len(sets[a] & sets[b])
        if shared >= 3 and shared / min(len(sets[a]), len(sets[b])) >= 0.5:
            expected[(a, b)] = shared
    assert expected, "fixtures should contain at least one chunk-level near-dup"
    assert set(got) == set(expected)
    for pair, (shared, containment) in got.items():
        assert shared == expected[pair]
        assert 0.0 < containment <= 1.0


def test_short_docs_do_not_crash_ngram_ops(spark):
    """Docs with fewer words than n must yield EMPTY shingle lists (DuckDB
    generate_series semantics), not crash: Spark's sequence(1, 0) descends
    to [1, 0] and slice(words, 0, n) throws without the guard."""
    from boxoffice_spark.operators.dedup import (
        contamination_report,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    # "" splits to [""] -> 1 word < 3 -> empty, like "a" and "a b"
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a b"), (3, ""), (4, "one two three four"), (5, "one two three four")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", block_cols=[], n=3, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(4, 5)}

    lsh = minhash_lsh_pairs(docs, "doc_id", "text", n=3).collect()
    assert {(r.id_a, r.id_b) for r in lsh} == {(4, 5)}

    rep = contamination_report(
        docs, "doc_id", "text", eval_pred=F.col("doc_id") >= 4, n=5
    ).collect()
    assert len(rep) == 2  # runs without INVALID_PARAMETER_VALUE on short docs


def test_single_word_docs_do_not_crash_repetition_stats(spark):
    """sequence(0, -1) descends in Spark; the bigram transform must be
    guarded so one-word docs get null dup_bigram_frac, matching DuckDB's
    empty generate_series."""
    from boxoffice_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [(1, "hello"), (2, "hello hello world")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in repetition_stats(docs, "doc_id", "text").collect()}
    assert out[1].n_words == 1 and out[1].dup_bigram_frac is None
    assert out[2].n_words == 3 and out[2].top_word_frac == round(2 / 3, 6)


def test_sampling_rate_one_keeps_all_rows(spark, sf_dir):
    """rate=1.0 must be a true pass-through and a val+test=1.0 split must
    leave zero train rows (regression: the 'ffffffff' threshold cap dropped
    rows whose hash bucket equals the cap)."""
    from boxoffice_spark.operators.sampling import (
        _threshold_hex,
        hash_sample,
        train_val_test_split,
    )

    assert _threshold_hex(1.0) > "ffffffff"  # sorts after every hex bucket
    docs = table(spark, sf_dir, "documents")
    assert hash_sample(docs, "text", 1.0).count() == docs.count()
    splits = {
        r.split: r.n
        for r in train_val_test_split(docs, "text", val_rate=0.5, test_rate=0.5)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert splits.get("train", 0) == 0 and sum(splits.values()) == docs.count()


def test_check_constraints_arbitrary_rule_names(spark, sf_dir):
    """Rule names with spaces/quotes must work (they are escaped into the
    stack unpivot), and an empty rule dict must raise."""
    import pytest

    from boxoffice_spark.operators.quality import check_constraints

    docs = table(spark, sf_dir, "documents")
    out = {
        r.rule: (r.n_violations, r["pass"])
        for r in check_constraints(
            docs,
            {
                "non-empty text": F.length("text") > 0,
                "lang's present": F.col("lang").isNotNull(),
            },
        ).collect()
    }
    assert out["non-empty text"][1] and out["lang's present"][1]
    with pytest.raises(ValueError):
        check_constraints(docs, {})


def test_salted_join_bare_keys_table(spark, sf_dir):
    """salted_join must work when the big side has ONLY the join key
    (regression: empty salt_source made xxhash64() arity fail) and equal
    the plain join."""
    from boxoffice_spark.operators.skew import salted_join

    big = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    ).limit(500)
    small = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    got = sorted(map(tuple, salted_join(big, small, "k").collect()))
    want = sorted(map(tuple, big.join(small, "k").collect()))
    assert got == want and len(got) > 0


def test_hash_sample_deterministic_and_salt_independent(spark, sf_dir):
    """Hash sampling must return the identical row set on every run (the
    retry-safety property rand() lacks), hit the target rate within
    binomial noise, and different salts must draw near-independent
    samples."""
    from boxoffice_spark.operators.sampling import hash_sample

    docs = table(spark, sf_dir, "documents")
    a1 = {r.doc_id for r in hash_sample(docs, "text", 0.3).select("doc_id").collect()}
    a2 = {r.doc_id for r in hash_sample(docs, "text", 0.3).select("doc_id").collect()}
    assert a1 == a2 and a1  # bit-identical across runs

    n = docs.count()
    assert 0.3 * n * 0.6 < len(a1) < 0.3 * n * 1.4  # rate within noise

    b = {r.doc_id for r in hash_sample(docs, "text", 0.3, salt="other").select("doc_id").collect()}
    overlap = len(a1 & b) / len(a1)
    assert 0.1 < overlap < 0.5, f"salted samples should be ~independent, overlap={overlap}"


def test_hot_shingle_cap_bounds_ngram_pairs(spark):
    """A boilerplate shingle shared by every doc must not quadratically
    blow up the inverted-index join: shingles over the doc-frequency cap
    are dropped, so the all-pairs-via-boilerplate output disappears while
    genuine near-dups (which also share rare shingles) survive."""
    n_docs = 400
    rows = [
        (i, f"shared boiler plate header t{i} unique u{i * 7} tail v{i * 13}")
        for i in range(n_docs)
    ]
    rows.append((n_docs, rows[0][1] + " extra"))  # planted true near-dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # threshold 0.1: the two boilerplate shingles alone put EVERY pair over
    # it (jaccard ~0.2), so without the cap this emits ~n_docs^2/2 pairs.
    pairs = ngram_jaccard_pairs(
        df, "doc_id", "text", block_cols=[], n=3, threshold=0.1, max_postings=50
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, n_docs) in found, "planted near-dup lost to the cap"
    assert len(found) < 20, f"cap failed to bound boilerplate pairs: {len(found)}"


def test_hot_bucket_cap_bounds_lsh_pairs(spark):
    """An LSH bucket holding a huge identical-doc population is dropped
    (its pairs belong to the exact tier), while a distinct near-dup pair in
    its own buckets is still emitted."""
    n_same = 300
    same = [(i, "identical boilerplate body repeated verbatim across docs") for i in range(n_same)]
    near = [
        (10_000, "a genuinely distinctive document about parquet shuffles and joins"),
        (10_001, "a genuinely distinctive document about parquet shuffles and join"),
    ]
    df = spark.createDataFrame(same + near, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, "doc_id", "text", max_postings=50).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (10_000, 10_001) in found, "near-dup pair lost to the bucket cap"
    assert len(found) < 20, f"bucket cap failed: {len(found)} pairs from identical block"


def test_successor_cap_bounds_pairs_and_keeps_groups_connected(spark):
    """max_successors (scale contract): a duplicate group BELOW the
    bucket cap must emit O(cap * k) pairs, not C(k, 2) — and the emitted
    chain must still connect the whole group for downstream components."""
    n_same = 60  # below max_postings, above max_successors
    same = [
        (i, "identical boilerplate body repeated verbatim across docs")
        for i in range(n_same)
    ]
    df = spark.createDataFrame(same, "doc_id long, text string")
    pairs = [
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", max_successors=8
        ).collect()
    ]
    # bound: each of k postings pairs with <= 8 successors per bucket
    assert 0 < len(pairs) <= 8 * n_same, len(pairs)
    assert len(pairs) < n_same * (n_same - 1) // 2
    # connectivity: union-find over emitted pairs links all 60 copies
    parent = list(range(n_same))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n_same)}) == 1, "group disconnected"
    # exhaustive form is unchanged when requested
    full = minhash_lsh_pairs(
        df.filter(F.col("doc_id") < 10), "doc_id", "text", max_successors=None
    ).count()
    assert full == 45, full


def test_winnow_guarantee_and_edge_docs(spark):
    """Winnowing's defining property: two documents sharing a substring of
    length >= w + k - 1 MUST share at least one fingerprint — plus the
    short-doc edges (below k chars -> no fingerprints; between k and k+w
    grams -> one shrunken window, no crash) and independence from the
    input's partitioning, for both fingerprint kernels."""
    from boxoffice_spark.operators.winnow import winnow_fingerprints, winnow_fp_sets

    shared = "a very distinctive shared passage of text"  # >> w + k - 1 chars
    rows = [
        (1, f"left context alpha {shared} right tail one"),
        (2, f"completely different opener {shared} and another ending"),
        (3, "no overlap with anything else at all here"),
        (4, "tiny"),  # < k chars -> zero fingerprints
        (5, "abcdefgh"),  # k=7 -> 2 grams < w -> single shrunken window
        (6, ""),  # empty -> zero fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=7, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "docs sharing a long substring must share a fingerprint"
    assert 4 not in by_doc and 6 not in by_doc
    assert len(by_doc[5]) == 1  # one window over 2 grams -> exactly one selection
    # density sanity: selections are a strict subset of grams for real docs
    n_grams_1 = len(rows[0][1]) - 7 + 1
    assert 0 < len(by_doc[1]) < n_grams_1

    for fn in (winnow_fingerprints, winnow_fp_sets):
        one, seven = (
            sorted(map(tuple, fn(df.repartition(n), "doc_id", "text", k=7, w=4).collect()))
            for n in (1, 7)
        )
        assert one and one == seven, fn.__name__


def test_winnow_pairs_rank_planted_dups(spark):
    """Planted near-duplicates outrank unrelated docs in winnow-pair
    jaccard, and the pair generator is symmetric-free (id_a < id_b)."""
    from boxoffice_spark.operators.winnow import winnow_dup_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base + " with a small suffix change"),
        (3, "an entirely unrelated document about spark physical plans and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r.id_a, r.id_b): r.jaccard for r in winnow_dup_pairs(
        df, "doc_id", "text", threshold=0.0).collect()}
    assert all(a < b for (a, b) in pairs)
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > pairs.get((1, 3), 0.0)
    assert pairs[(1, 2)] > pairs.get((2, 3), 0.0)


def test_incremental_dedup_admits_only_unseen(spark, sf_dir):
    """Incoming docs whose fingerprint exists in the corpus are rejected;
    admitted fingerprints are unique per batch."""
    from boxoffice_spark.queries.text_pipeline import t_incremental_dedup
    from boxoffice_spark.operators.dedup import normalized_text

    out = t_incremental_dedup(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalized_text("text")).alias("fp")
    )
    corpus_fps = {
        r.fp for r in docs.filter(F.col("doc_id") % 10 != 0).collect()
    }
    admitted = [r.fingerprint for r in out]
    assert len(admitted) == len(set(admitted))
    assert not (set(admitted) & corpus_fps)
    for r in out:
        assert r.keeper_id % 10 == 0


def test_heavy_hitters_exact_vs_bruteforce_adversarial_partitions(spark):
    """The Misra-Gries candidate union must never lose a true phi-heavy
    hitter, whatever the partitioning; the recount makes output exactly
    equal to the brute-force groupBy filter."""
    from boxoffice_spark.operators.sketch import heavy_hitters

    rows = (
        [("hot",)] * 300
        + [("warm",)] * 80
        + [(f"cold{i}",) for i in range(600)]
        + [(f"tepid{i % 37}",) for i in range(200)]
    )
    for parts in (1, 3, 13):
        toks = spark.createDataFrame(rows, "term string").repartition(parts)
        phi = 0.05
        got = {
            (r.term, r.term_count)
            for r in heavy_hitters(toks, "term", phi=phi).collect()
        }
        counts = toks.groupBy("term").count().collect()
        n = sum(r["count"] for r in counts)
        want = {(r.term, r["count"]) for r in counts if r["count"] > n * phi}
        assert got == want, f"parts={parts}: {got} != {want}"
        assert ("hot", 300) in got


def test_bloom_no_false_negatives_and_sane_fpp(spark):
    """Every built value must pass the probe (no false negatives — the
    property that makes the prefilter exactness-preserving); at ~13 bits
    per element the false-positive rate on disjoint probes stays small."""
    from boxoffice_spark.operators.bloom import bloom_build, bloom_keep_maybe

    members = spark.range(0, 1000).select((F.col("id") * 7 + 1).alias("v"))
    others = spark.range(0, 1000).select((F.col("id") * 7 + 3).alias("v"))
    words = bloom_build(members, "v", num_bits=1 << 13, n_hashes=5)
    kept_members = bloom_keep_maybe(members, "v", words, 1 << 13, 5).count()
    assert kept_members == 1000  # no false negatives, ever
    fp = bloom_keep_maybe(others, "v", words, 1 << 13, 5).count()
    assert fp <= 100, f"false-positive rate implausibly high: {fp}/1000"


def test_bloom_decontamination_identical_to_plain(spark, sf_dir):
    """The Bloom-prefiltered report must be row-for-row identical to the
    plain semi-join path (false positives re-checked, no false negatives),
    even with an undersized filter (high fpp -> weak thinning, same answer)."""
    from boxoffice_spark.operators.dedup import contamination_report

    docs = table(spark, sf_dir, "documents")
    pred = F.col("source") == "src0"
    plain = contamination_report(docs, "doc_id", "text", pred, n=5)
    for bits in (1 << 16, 1 << 8):
        bloom = contamination_report(
            docs, "doc_id", "text", pred, n=5, bloom_bits=bits
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, bloom.collect())
        ), f"bloom path diverged at num_bits={bits}"


def test_bloom_probe_is_broadcast_only(spark):
    """The probe side must be thinned by BROADCAST hash joins only — no
    shuffle exchange of the probed DataFrame before the bit tests."""
    from boxoffice_spark.operators.bloom import bloom_build, bloom_keep_maybe

    big = spark.range(0, 10_000).select(F.col("id").alias("v"))
    small = spark.range(0, 100).select((F.col("id") * 3).alias("v"))
    words = bloom_build(small, "v", num_bits=1 << 10, n_hashes=3)
    plan = (
        bloom_keep_maybe(big, "v", words, 1 << 10, 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # the only exchanges allowed are the broadcast ones + the word-table agg
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            # only the word-table build may shuffle (groupBy word_idx —
            # Catalyst names the derived key _groupingexpression)
            assert (
                "hashpartitioning(word_idx" in line
                or "hashpartitioning(_groupingexpression" in line
            ), line


def test_line_dedup_keep_first_semantics(spark):
    """Repeated 8-word units keep exactly their first (doc_id, pos)
    occurrence corpus-wide; unique content is untouched; fully-deduped
    and empty docs come back with empty text (row count preserved)."""
    from boxoffice_spark.operators.dedup import line_dedup

    boiler = "one two three four five six seven eight"
    uniq_a = "alpha beta gamma delta epsilon zeta eta theta"
    uniq_b = "ichi ni san shi go roku nana hachi"
    rows = [
        (1, f"{boiler} {uniq_a}"),
        (2, f"{boiler} {uniq_b}"),   # boiler cut here
        (3, boiler),                 # fully deduped
        (4, ""),                     # empty stays a row
        (5, uniq_a),                 # dup of doc 1's second unit, cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.cleaned_text, r.n_kept, r.n_dropped)
           for r in line_dedup(df, "doc_id", "text", unit_words=8).collect()}
    assert got[1] == (f"{boiler} {uniq_a}", 2, 0)
    assert got[2] == (uniq_b, 1, 1)
    assert got[3] == ("", 0, 1)
    assert got[4] == ("", 0, 0)
    assert got[5] == ("", 0, 1)


def test_compression_signal_properties(spark):
    """zlib ratio: repetitive text compresses far better than high-entropy
    text; ratios are deterministic across runs; byte accounting is exact."""
    from boxoffice_spark.operators.textstats import compression_signal

    rows = [
        (1, "spam " * 200),                     # highly repetitive
        (2, "The quick brown fox jumps over the lazy dog. " * 5),
        (3, "9f8a7b6c5d4e3f2a1b0c" * 30),        # hashy but still patterned
        (4, ""),                                 # empty -> null ratio
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_signal(df, "doc_id", "text").collect()}
    assert out[1]["compression_ratio"] < 0.1          # boilerplate collapses
    assert out[1]["compression_ratio"] < out[2]["compression_ratio"]
    assert out[4]["n_bytes"] == 0 and out[4]["compression_ratio"] is None
    for i in (1, 2, 3):
        assert out[i]["n_bytes"] == len(rows[i - 1][1].encode("utf-8"))
        assert 0 < out[i]["zlib_bytes"] <= out[i]["n_bytes"] + 16
    # determinism: identical second run
    again = {r["doc_id"]: r for r in compression_signal(df, "doc_id", "text").collect()}
    assert {k: tuple(v) for k, v in out.items()} == {k: tuple(v) for k, v in again.items()}


def test_compression_gate_runs_and_flags(spark, sf_dir):
    from boxoffice_spark.registry import load_all

    q = load_all()["t_compression_gate"]
    rows = q.fn(spark, sf_dir).collect()
    assert len(rows) > 0
    assert {"doc_id", "n_bytes", "zlib_bytes", "compression_ratio", "entropy_ok"} <= set(rows[0].asDict())


def test_cluster_balance_invariants_and_determinism(spark, sf_dir):
    """Shares sum to 1, every vector lands in exactly one cluster, the
    fixed seed makes back-to-back runs identical."""
    from boxoffice_spark.operators.similarity import cluster_balance

    emb = table(spark, sf_dir, "embeddings")
    out = cluster_balance(emb).collect()
    n_total = emb.count()
    assert sum(r["n_vectors"] for r in out) == n_total
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-3
    assert all(-1.0 <= r["mean_cos_to_centroid"] <= 1.0 for r in out)
    again = cluster_balance(emb).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_cluster_balance_small_and_empty_corpus(spark, sf_dir):
    """Fewer rows than cells still clusters (_lloyds clamps k to the
    sample size, never a rng.choice(replace=False) error) and the shares
    still sum to 1; an empty corpus fails loudly in the fit."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    out = cluster_balance(emb, n_cells=16).collect()
    assert 0 < len(out) <= 8
    assert sum(r["n_vectors"] for r in out) == 8
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-6

    with pytest.raises(ValueError, match="corpus is empty"):
        cluster_balance(emb.filter(F.col("vec_id") < 0))


def test_completeness_counters_all_null_day(spark):
    """A day whose value column is entirely NULL — the broken-upstream-
    batch case the monitor exists to flag — must report n_nonpos_value=0
    (count semantics), never NULL (the sum-of-NULL-predicates trap)."""
    import datetime as dt

    from boxoffice_spark.queries.quality import completeness_by_day

    rows = [
        (1, dt.datetime(2024, 3, 1, 10), 1, "view", None, "{}"),
        (2, dt.datetime(2024, 3, 1, 11), 2, "error", None, None),
        (3, dt.datetime(2024, 3, 2, 10), 1, "click", -1.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r["day"].isoformat(): r.asDict() for r in completeness_by_day(ev).collect()}
    d1 = got["2024-03-01"]
    assert d1["n_null_value"] == 2 and d1["n_nonpos_value"] == 0  # not NULL
    assert d1["n_empty_props"] == 1 and d1["n_error_events"] == 1
    assert d1["value_completeness"] == 0.0
    d2 = got["2024-03-02"]
    assert d2["n_nonpos_value"] == 1 and d2["n_empty_props"] == 1


def test_cluster_safe_split_no_cluster_straddles(spark, sf_dir):
    """The leakage invariant the split exists for: every near-dup pair
    (SimHash Hamming graph) lands in ONE split; split fractions are in a
    sane band for an 80/10/10 hash bucketing; assignment deterministic."""
    from pyspark.sql import functions as F

    from boxoffice_spark.operators import dedup as D
    from boxoffice_spark.queries.text_pipeline import t_cluster_safe_split
    from boxoffice_spark.tables import table

    split = t_cluster_safe_split(spark, sf_dir).localCheckpoint()
    docs = table(spark, sf_dir, "documents")
    assert split.count() == docs.count()

    pairs = D.simhash_hamming_pairs(docs, "doc_id", "text")
    a = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    b = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    straddlers = (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert straddlers == 0

    frac = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    total = sum(frac.values())
    assert 0.6 < frac.get("train", 0) / total < 0.95
    assert frac.get("val", 0) > 0 and frac.get("test", 0) > 0

    again = sorted(map(tuple, t_cluster_safe_split(spark, sf_dir).collect()))
    assert again == sorted(map(tuple, split.collect()))


def test_source_overlap_matrix_self_consistency(spark, sf_dir):
    """Overlap matrix invariants: n_common <= min(n_a, n_b), jaccard in
    (0, 1], pairs ordered source_a < source_b, and a planted full-copy
    source pair scores jaccard 1.0."""
    from pyspark.sql import functions as F

    from boxoffice_spark.operators.dedup import source_overlap_matrix

    rows = [
        (1, "alpha beta gamma delta", "s1"),
        (2, "alpha beta gamma delta", "s2"),   # s2 == s1's shingles
        (3, "epsilon zeta eta theta", "s3"),   # s3 disjoint from s1/s2
        (4, "alpha beta gamma iota", "s3"),    # ...but shares a shingle
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = source_overlap_matrix(df, "source", "text", n=3).collect()
    by_pair = {(r["source_a"], r["source_b"]): r for r in out}
    assert all(a < b for a, b in by_pair)
    for r in out:
        assert 0 < r["n_common"] <= min(r["n_a"], r["n_b"])
        assert 0.0 < r["jaccard"] <= 1.0
    assert by_pair[("s1", "s2")]["jaccard"] == 1.0
    assert ("s1", "s3") in by_pair  # the single shared 'alpha beta gamma'


def test_minhash_banded_pairs_semantics(spark):
    """Exact duplicates share every band with agreement 1.0; disjoint
    docs never pair; a heavy-overlap pair that survives banding carries
    agreement between 0 and 1; bad band arithmetic raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from boxoffice_spark.operators.dedup import minhash_banded_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base + " with a small tail change"),     # near dup of 1/2
        (4, "completely different words entirely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_banded_pairs(df, "doc_id", "text", n=3).collect()
    by_pair = {(r["id_a"], r["id_b"]): r for r in out}
    assert by_pair[(1, 2)]["n_shared_bands"] == 4
    assert by_pair[(1, 2)]["sig_agreement"] == 1.0
    assert (1, 4) not in by_pair and (2, 4) not in by_pair and (3, 4) not in by_pair
    for r in out:
        assert 0.0 < r["sig_agreement"] <= 1.0
        assert 1 <= r["n_shared_bands"] <= 4

    with _pytest.raises(ValueError):
        minhash_banded_pairs(df, "doc_id", "text", num_hashes=10, band_size=3)


def test_near_dup_pairs_arrow_equals_declarative(spark, sf_dir):
    """The Arrow gram-matmul pair kernel must emit exactly the pairs the
    declarative self-join + fold cosine emits — same blocks, same
    threshold, same 6-dp rounding (the rewrite that fixed the sf1 stall
    must never drift from the reference semantics)."""
    from boxoffice_spark.operators.similarity import cosine, near_dup_pairs_arrow

    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    planted = base.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    v = base.unionByName(planted)
    # loose gate so REAL (non-planted, non-1.0) cosines cross it too
    # (0.4 is the v_semantic_keepers gate, known to pass real pairs at
    # every fixture SF)
    thr = 0.4
    arrow = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in near_dup_pairs_arrow(
            v, block_col="label", id_col="vec_id", vec_col="e", threshold=thr
        ).collect()
    }
    a, b = v.alias("a"), v.alias("b")
    sim = F.round(cosine(F.col("a.e"), F.col("b.e")), 6)
    declarative = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in (
            a.join(
                b,
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                sim.alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= thr)
        ).collect()
    }
    assert len(arrow) > len(planted.collect()), "gate should pass real pairs too"
    assert arrow == declarative


def test_prefix_dim_topk_arrow_equals_sliced_fold(spark, sf_dir):
    """The prefix-cumsum Matryoshka kernel must reproduce the sliced-fold
    top-k at every prefix dim: same neighbors, same 6-dp cosines, same
    (cos desc, id asc) ranking."""
    from pyspark.sql import Window

    from boxoffice_spark.operators.similarity import cosine, prefix_dim_topk_arrow

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    w = Window.partitionBy("d", "query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    arrow = {
        (r.d, r.query_id, r.rnk): (r.neighbor_id, r.cos_sim)
        for r in prefix_dim_topk_arrow(emb, q, dims=[64, 16, 8], k=5)
        .select("d", "query_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 5)
        .collect()
    }
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    dims = spark.createDataFrame([(64,), (16,), (8,)], "d int")
    fold = {
        (r.d, r.query_id, r.rnk): (r.neighbor_id, r.cos_sim)
        for r in (
            qv.crossJoin(F.broadcast(dims))
            .join(c, F.col("query_id") != F.col("neighbor_id"))
            .select(
                "d",
                "query_id",
                "neighbor_id",
                F.round(
                    cosine(
                        F.slice(F.col("qv"), F.lit(1), F.col("d")),
                        F.slice(F.col("cv"), F.lit(1), F.col("d")),
                    ),
                    6,
                ).alias("cos_sim"),
            )
            .select("d", "query_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias("rnk"))
            .filter(F.col("rnk") <= 5)
        ).collect()
    }
    assert arrow and arrow == fold


def test_word_ngram_hashes_fast_equals_declarative(spark, sf_dir):
    """The map-side Arrow shingle kernel must emit exactly the per-doc
    distinct (doc_id, h) set of the declarative explode + _word_hash +
    distinct chain — Python md5/normalization parity with the JVM recipe
    is the whole contract (t_ngram_novelty's oracle rides on it)."""
    from boxoffice_spark.operators.dedup import (
        _word_hash,
        _word_ngrams_col,
        normalized_text,
        word_ngram_hashes_fast,
    )

    docs = table(spark, sf_dir, "documents")
    fast = {
        (r.doc_id, r.h)
        for r in word_ngram_hashes_fast(docs, "doc_id", "text", 5).collect()
    }
    words = F.split(normalized_text("text"), " ")
    slow = {
        (r.doc_id, r.h)
        for r in (
            docs.select("doc_id", F.explode(F.array(_word_ngrams_col(words, 5))).alias("_gs"))
            .select("doc_id", F.explode("_gs").alias("g"))
            .select("doc_id", _word_hash(F.col("g")).alias("h"))
            .distinct()
        ).collect()
    }
    assert fast and fast == slow


def test_winnow_fp_sets_matches_catalyst_form(spark, sf_dir):
    """The md5 mapInPandas fingerprint-set kernel (winnow_fp_sets)
    must emit the EXACT row multiset of the Catalyst lambda form it
    replaces inside winnow_dup_pairs — same md5-prefix hash family, same
    per-window min, same per-doc distinct + size — on real corpus docs AND
    the short/empty/non-ASCII/whitespace edges."""
    from pyspark.sql import functions as F

    from boxoffice_spark.operators.dedup import normalized_text
    from boxoffice_spark.operators.winnow import _fingerprint_array, winnow_fp_sets
    from boxoffice_spark.tables import spread, table

    def catalyst_post(df, id_col, text_col, k, w):
        grams, mins, wins = _fingerprint_array(k, w)
        return (
            spread(df)
            .select(F.col(id_col), F.explode(F.array(normalized_text(text_col))).alias("_norm"))
            .select(F.col(id_col), F.explode(F.array(F.expr(grams))).alias("_h"))
            .select(F.col(id_col), "_h", F.explode(F.array(F.expr(mins))).alias("_mins"))
            .select(
                F.col(id_col),
                F.explode(
                    F.array(F.expr(f"array_distinct(transform({wins}, s -> s.fp))"))
                ).alias("_fps"),
            )
            .select(F.col(id_col), F.size("_fps").alias("_sz"), F.explode("_fps").alias("fp"))
        )

    docs = table(spark, sf_dir, "documents")
    for k, w in [(20, 10), (7, 4)]:
        a = catalyst_post(docs, "doc_id", "text", k, w)
        b = winnow_fp_sets(docs, "doc_id", "text", k, w)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    edge_rows = [
        (1, ""),  # empty -> no rows
        (2, "tiny"),  # < k -> no rows
        (3, "abcdefghij"),  # k..k+w grams -> one shrunken window
        (4, "  leading   and\ttrailing\nwhitespace   collapse  "),
        (5, "café au lait café au lait café au lait résumé"),  # non-ASCII chars
        (6, "UPPER and lower CASE mixed UPPER and lower"),
        (7, "naïve   nbsp must survive ascii-only \\s collapse   naïve"),
    ]
    df = spark.createDataFrame(edge_rows, "doc_id int, text string")
    a = catalyst_post(df, "doc_id", "text", 7, 4)
    b = winnow_fp_sets(df, "doc_id", "text", 7, 4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _cosine_rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in df.collect()
    )


def test_cosine_topk_arrow_equals_catalyst(spark, sf_dir):
    """The Arrow matmul top-k kernel must return the fold form's rows
    exactly: same neighbors, same 6-dp cosines, same (cos desc, id asc)
    ranks — on the fixture embeddings and on a corpus whose rank-k slot
    is an exact tie split across partitions."""
    from boxoffice_spark.operators.similarity import cosine_topk_arrow

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    arrow = _cosine_rows(cosine_topk_arrow(emb, queries, k=10))
    assert len(arrow) == 50
    assert arrow == _cosine_rows(cosine_topk(emb, queries, k=10))

    # ids 10..15 are one direction (cosine 1.0 to query 0): six tied
    # candidates for ranks 1..3, so the id tie-break decides the cut
    rows = [(0, [1.0, 0.0])] + [(i, [float(i), 0.0]) for i in range(10, 16)]
    rows += [(20, [1.0, 1.0]), (21, [0.0, 1.0]), (22, [-1.0, 0.5])]
    tied = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tied = tied.repartition(3)
    q = tied.filter(F.col("vec_id") == 0)
    arrow = _cosine_rows(cosine_topk_arrow(tied, q, k=3))
    assert arrow == [(0, 10, 1.0, 1), (0, 11, 1.0, 2), (0, 12, 1.0, 3)]
    assert arrow == _cosine_rows(cosine_topk(tied, q, k=3))


def test_cosine_topk_zero_vector_raises(spark):
    """A zero vector has no cosine: both top-k kernels fail loudly, the
    Arrow kernel with a named error giving the vector's id — for a zero
    corpus vector (raised in the scan batch) and for a zero query vector
    (raised on the driver)."""
    import pytest

    from boxoffice_spark.operators.similarity import ZeroVectorError, cosine_topk_arrow

    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (7, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 1)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        cosine_topk(df, q, k=2).collect()
    with pytest.raises(Exception, match="ZeroVectorError.*vec_id 7"):
        cosine_topk_arrow(df, q, k=2).collect()

    zero_q = df.filter(F.col("vec_id") == 7)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        cosine_topk(df, zero_q, k=2).collect()
    with pytest.raises(ZeroVectorError, match="vec_id 7"):
        cosine_topk_arrow(df, zero_q, k=2)


# Every similarity kernel with a registered caller that normalises its
# vectors, run on the zero-vector corpus of the test above (labels added)
# with query 1.
_ZERO_VECTOR_RUNS = {
    # without the check: (1, 7, 0.0, 3), the zero vector as a negative
    "hard_negative_topk": lambda df, q: hard_negative_topk(df, q, k=3),
    "near_dup_pairs_arrow": lambda df, q: near_dup_pairs_arrow(
        df.withColumn("blk", F.lit(0)), "blk", vec_col="embedding"
    ),
    # without the check: vec 7 at rank 2 (l2_dist 1.0), ahead of vec 2
    "ann_lsh_topk": lambda df, q: ann_lsh_topk(df, q, k=3),
    "cluster_balance": lambda df, q: cluster_balance(df, n_cells=2),
}


@pytest.mark.parametrize("kernel", sorted(_ZERO_VECTOR_RUNS))
def test_arrow_kernel_zero_vector_raises(spark, kernel):
    """A zero vector fails with a ZeroVectorError naming its id — raised on
    a collected fit sample or query, or in the scan — instead of being
    ranked as a neighbor."""
    rows = [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1), (3, [1.0, 1.0], 1), (7, [0.0, 0.0], 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label long")
    q = df.filter(F.col("vec_id") == 1)
    with pytest.raises(Exception, match="vec_id 7") as ei:
        _ZERO_VECTOR_RUNS[kernel](df, q).collect()
    err = ei.value
    assert isinstance(err, ZeroVectorError) or "ZeroVectorError" in str(err)


def test_ann_lsh_zero_query_raises(spark):
    """A zero query vector has no neighbours: LSH fails it by name even
    when the corpus holds no zero vector (without the check it returned
    neighbour 1)."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (7, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = df.filter(F.col("vec_id") != 7)
    with pytest.raises(Exception, match="ZeroVectorError.*vec_id 7"):
        ann_lsh_topk(corpus, df.filter(F.col("vec_id") == 7), k=3).collect()
