"""Text analysis operators for training-data pipelines (BASELINE.json
north-star): language ID, quality scoring, token counting, fingerprinting.

Everything is pure Catalyst expressions — a 100 TB text pass stays inside
whole-stage codegen with zero Python in the hot path. Each helper has a SQL
twin (kept in lockstep) so the query layer can pair it with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from boxoffice_spark.functions.numeric import (
    fround as _fround,
    ratio6 as _ratio6,
    ratio6_sql as _ratio6_sql,
    units_div as _units_div,
)
from boxoffice_spark.operators.dedup import NORMALIZED_SQL, normalized_text

# Marker stopwords per language for the n-gram-heuristic language ID.
# Deliberately tiny and deterministic — the operator contract is the shape
# (score-per-language -> argmax with fixed tie order), not model quality.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "y", "es"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["的", "是", "了", "在", "和"],
}
LANG_ORDER = ["en", "de", "es", "fr", "zh"]  # deterministic tie-break order


def words_of(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(normalized_text(c), " ")


WORDS_SQL = "string_split({norm}, ' ')"


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Distinct-marker-hit count per language."""
    w = F.array_distinct(words_of(col))
    return {
        lang: F.size(F.array_intersect(w, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Argmax language with fixed tie order; 'und' when no marker hits."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.when(best <= 0, "und")
    for lang in LANG_ORDER:
        expr = expr.when(scores[lang] == best, lang)
    return expr.otherwise("und")


def lang_id_sql(col: str) -> str:
    """DuckDB twin of :func:`lang_id`."""
    norm = NORMALIZED_SQL.format(col=col)
    w = f"list_distinct({WORDS_SQL.format(norm=norm)})"
    score = {
        lang: f"len(list_intersect({w}, {_sql_list(markers)}))"
        for lang, markers in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    cases = " ".join(f"WHEN {score[lang]} = {best} THEN '{lang}'" for lang in LANG_ORDER)
    return f"CASE WHEN {best} <= 0 THEN 'und' {cases} ELSE 'und' END"


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join(f"'{i}'" for i in items) + "]"


def whitespace_token_count(col: Column | str) -> Column:
    """Token count, whitespace tokenization."""
    return F.size(words_of(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count of letter-runs, digit-runs, and
    single punctuation marks (the classic 'GPT-ish tokens ≈ word pieces'
    regex heuristic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z가-힣]+|[0-9]+|[^A-Za-z가-힣0-9\s]"))


BPEISH_SQL = "len(regexp_extract_all({col}, '[A-Za-z가-힣]+|[0-9]+|[^A-Za-z가-힣0-9\\s]'))"


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (quality signal)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[^A-Za-z가-힣0-9\s]")).cast("double") / F.greatest(
        F.length(c), F.lit(1)
    )


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Stopword tokens / total tokens (English-marker default)."""
    sw = stopwords or LANG_MARKERS["en"]
    w = words_of(col)
    hits = F.size(F.filter(w, lambda x: x.isin(*sw)))
    return hits.cast("double") / F.greatest(F.size(w), F.lit(1))


def _quality_ratio(col: str, sql: bool) -> tuple[str, str]:
    """(num, den) of the exact integer quality ratio, as Spark or DuckDB
    SQL text."""
    if sql:
        n_punct = rf"len(regexp_extract_all({col}, '[^A-Za-z가-힣0-9\s]'))"
    else:
        n_punct = rf"regexp_count({col}, '[^A-Za-z가-힣0-9\\s]')"
    num = f"least(length({col}), 500) * (greatest(length({col}), 1) - {n_punct})"
    den = f"500 * greatest(length({col}), 1)"
    return num, den


def quality_micro(col: str) -> Column:
    """Per-document quality in exact 1e-6 BIGINT units (HALF_UP) — the
    summable form: integer micros aggregate order-free, so corpus rollups
    (t_quality_by_lang) need no decimal cast of the double chain."""
    from boxoffice_spark.functions.numeric import units_div

    num, den = _quality_ratio(col, sql=False)
    return units_div(num, den, 6)


def quality_micro_sql(col: str) -> str:
    """DuckDB twin of :func:`quality_micro`."""
    from boxoffice_spark.functions.numeric import units_div_sql

    num, den = _quality_ratio(col, sql=True)
    return units_div_sql(num, den, 6)


def quality_score(col: str) -> Column:
    """Composite [0,1] quality score: length signal x (1 - punct ratio).
    The shape of every 'heuristic filter' stage in LLM-data pipelines:
    cheap, monotone, threshold-able.

    The score is the exact integer ratio
        min(len, 500) * (greatest(len, 1) - n_punct)
        -----------------------------------------
                500 * greatest(len, 1)
    emitted via ratio6's BIGINT HALF_UP (round(double, 6) rounds
    differently across engine builds); exact while
    500 * len fits ratio6's bound, i.e. len < 9e9 chars). ``col`` is a
    column NAME (the ratio is built as a SQL expression)."""
    num, den = _quality_ratio(col, sql=False)
    return _ratio6(num, den)


def quality_score_sql(col: str) -> str:
    """DuckDB twin of :func:`quality_score`."""
    num, den = _quality_ratio(col, sql=True)
    return _ratio6_sql(num, den)


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style repetition signals per document: word counts, the
    mass of the single most frequent word, and the fraction of bigram
    occurrences that are repeats. High values flag boilerplate/spam —
    the standard repetition filters in LLM-data curation (alongside the
    length/punct signals in quality_score).

    Two explode->count aggregations (words, bigrams) joined on the doc id.
    Everything is Generate + hash-aggregate inside whole-stage codegen —
    no Python, no window over the full token stream; each aggregation
    shuffles once on (doc, token) and once on doc, all partial-agg
    friendly. Docs with a single word have no bigrams: the bigram index
    sequence is guarded to an empty array there (Spark's sequence(0, -1)
    DESCENDS to [0, -1] and a[1] would throw INVALID_ARRAY_INDEX), so
    dup_bigram_frac is null (left join), never a crash or divide-by-zero —
    matching DuckDB's empty generate_series(1, 0).

    Measured alternatives: two single-tokenize-pass rewrites
    (struct-tagged rows and a flat word/bigram union keyed on
    space-in-token) were built and interleaved-A/B'd at sf0.1 — BOTH
    measured slower than this two-chain form (1.23 s / 1.12 s vs 1.04 s
    min-of-6, same session): the per-token tagging work exceeds the saved
    normalize+split, and the (doc, token) shuffles carry the same bytes
    either way. Kept the two-chain form: the "ideal" single-pass plan
    lost the measurement.
    """
    words = df.select(
        F.col(id_col), F.explode(words_of(text_col)).alias("word")
    )
    wc = words.groupBy(id_col, "word").agg(F.count("*").alias("c"))
    per_word = wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct_words"),
        F.max("c").alias("max_c"),
    )

    arr = df.select(F.col(id_col), words_of(text_col).alias("a"))
    bigrams = arr.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "CASE WHEN size(a) >= 2 THEN "
                "transform(sequence(0, size(a) - 2), i -> concat(a[i], ' ', a[i + 1])) "
                "ELSE CAST(array() AS array<string>) END"
            )
        ).alias("g"),
    )
    bgc = bigrams.groupBy(id_col, "g").agg(F.count("*").alias("c"))
    per_bg = bgc.groupBy(id_col).agg(
        F.sum("c").alias("total_bg"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_bg"),
    )

    return (
        per_word.join(per_bg, id_col, "left")
        .select(
            id_col,
            "n_words",
            "n_distinct_words",
            # exact integer ratios: ratio6's BIGINT HALF_UP replaces the
            # build-sensitive round(double, 6); NULL bigram rows propagate
            # to NULL on both engines
            _ratio6("max_c", "n_words").alias("top_word_frac"),
            _ratio6("dup_bg", "total_bg").alias("dup_bigram_frac"),
        )
    )


REPETITION_SQL = """
WITH w AS (
    SELECT {id_col}, unnest(string_split({norm}, ' ')) AS word FROM {table}
), wc AS (
    SELECT {id_col}, word, count(*) AS c FROM w GROUP BY 1, 2
), per_word AS (
    SELECT {id_col}, sum(c) AS n_words, count(*) AS n_distinct_words, max(c) AS max_c
    FROM wc GROUP BY 1
), arr AS (
    SELECT {id_col}, string_split({norm}, ' ') AS a FROM {table}
), bg AS (
    SELECT {id_col}, a[i] || ' ' || a[i + 1] AS g
    FROM arr, unnest(generate_series(1, len(a) - 1)) AS t(i)
), bgc AS (
    SELECT {id_col}, g, count(*) AS c FROM bg GROUP BY 1, 2
), per_bg AS (
    SELECT {id_col}, sum(c) AS total_bg, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_bg
    FROM bgc GROUP BY 1
)
SELECT
    p.{id_col},
    CAST(p.n_words AS BIGINT) AS n_words,
    CAST(p.n_distinct_words AS BIGINT) AS n_distinct_words,
    """ + _ratio6_sql("p.max_c", "p.n_words") + """ AS top_word_frac,
    """ + _ratio6_sql("b.dup_bg", "b.total_bg") + """ AS dup_bigram_frac
FROM per_word p LEFT JOIN per_bg b USING ({id_col})
"""


def tfidf_top_terms(docs, id_col: str, text_col: str, k: int = 3):
    """Per-document top-k terms by TF-IDF — the standard keyword/topic
    signal for corpus curation (and the relevance core of BM25-style
    retrieval; the reference's dashboard keyword filters,
    src/dashboard.py:96-118, are a degenerate single-term form).

    idf is the LINEAR rarity ratio ``n_docs / df`` rather than the
    conventional ``ln(n_docs / df)``: the score stays in exact 64-bit
    integer arithmetic (``tf * n_docs * 10000 div df``), so ranking is
    bit-identical across engines — log idf compresses the same ordering
    monotonically for equal tf, and swapping it in is a one-line change
    where cross-engine determinism isn't a constraint.

    Scale shape: tokenize -> (doc, term) count [one shuffle] -> the
    document-frequency table derives FROM the tf aggregate (vocabulary is
    sublinear in corpus size; Zipf head dominates) and joins back as a
    broadcast; n_docs is a broadcast one-row aggregate. At vocabularies
    too big to broadcast (~>1e8 terms), switch the df join to a shuffle
    hash join on term — everything else is unchanged.
    """
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words_of(text_col)).alias("term")
    ).filter(F.col("term") != "")
    # tf feeds BOTH the df derivation and the scoring join; persist so the
    # tokenize + (doc, term) shuffle runs once (exchange reuse does not
    # collapse the two references — see README's measured scale findings).
    # scoped_persist: one live cache across repeated calls, no storage leak.
    from boxoffice_spark.functions.caching import scoped_persist

    tf = scoped_persist(
        toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")),
        "tfidf_top_terms.tf",
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score_x1e4", F.expr("(tf * n_docs * 10000) div df"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_x1e4"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score_x1e4", "rnk")
    )


TFIDF_SQL = """
WITH toks AS (
    SELECT {id_col} AS doc_id, unnest(string_split({norm}, ' ')) AS term FROM {table}
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
), dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
    SELECT count(*) AS n_docs FROM {table}
), scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           (tf.tf * n.n_docs * 10000) // dfreq.df AS score_x1e4
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
    SELECT scored.*, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY score_x1e4 DESC, term) AS INT) AS rnk
    FROM scored
)
SELECT doc_id, term, tf, df, score_x1e4, rnk FROM ranked WHERE rnk <= {k}
"""


def bm25_topk(
    docs,
    id_col: str,
    text_col: str,
    queries: list[tuple[int, list[str]]],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
):
    """Full-text retrieval: top-k documents per keyword query under BM25
    (Robertson-Spärck Jones) — the generalization of the reference
    dashboard's single-term keyword filter (src/dashboard.py:96-118) to
    ranked multi-term search.

    Determinism contract (what makes this ORACLE-comparable, which BM25
    normally is not): per-(query, term, doc) scores are pure double
    arithmetic (identical IEEE ops in any engine), rounded to 6dp, and
    the per-document sum runs through decimal (functions/numeric.dsum) so
    accumulation order cannot flip a rank; ties break on doc id.

    Scale shape: ONE tokenize + (doc, term) tf shuffle (persisted — it
    feeds doc lengths, document frequencies, and the scoring join); the
    query-term table and its df/idf rows broadcast (a query touches few
    terms); the scoring join therefore shuffles only the tf postings of
    matching terms, and the final top-k is a per-query window over
    candidate docs. This is the inverted-index probe layout — corpus
    bytes are touched once at index (tf) build.
    """
    from pyspark.sql import Window as W

    from boxoffice_spark.functions.numeric import dsum

    from boxoffice_spark.functions.caching import scoped_persist

    spark = docs.sparkSession
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(words_of(text_col)).alias("term")
    ).filter(F.col("term") != "")
    # scoped_persist: one live tf cache across repeated calls, no leak.
    tf = scoped_persist(
        toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")), "bm25_topk.tf"
    )
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    # de-dup each query's term list: BM25 scores a term once per query
    # regardless of how many times the user typed it (a duplicate (query_id,
    # term) row would double-count that term's contribution)
    qterms = spark.createDataFrame(
        sorted({(qid, t) for qid, terms in queries for t in terms}),
        "query_id int, term string",
    )
    # document frequencies for QUERY TERMS ONLY: the
    # broadcast semi-join filters tf map-side BEFORE the per-term count,
    # so the df aggregate shuffles the matching postings instead of the
    # whole vocabulary ("aggregate only what you need" — at
    # corpus scale the full-vocab (term, df) aggregate is itself
    # vocabulary-sized). Same df values for every term that can reach the
    # scoring join.
    dfq = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term", "semi")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        F.broadcast(qterms)
        .join(tf, "term")
        .join(F.broadcast(dfq), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            # fround's pinned floor-implemented
            # HALF_UP puts the ln-chain score on the 6dp grid identically
            # on every engine build (round(double, 6) is build surface);
            # the downstream decimal sum is then value-preserving.
            _fround(idf * tf_part, 6).alias("term_score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.groupBy("query_id", "doc_id")
        .agg(dsum("term_score", 6).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def compression_signal(df, id_col: str, text_col: str, level: int = 6):
    """Compression-ratio quality signal: zlib(level)-compressed size over
    raw utf-8 size per document. Highly compressible text (ratio well
    below the corpus norm) is repetitive/boilerplate/template spam; near-
    or above-1 ratios are high-entropy noise (binary soup, hash dumps) —
    the cheap entropy-based filter used alongside the length/punct
    heuristics in public curation pipelines (e.g. the compression filters
    described for C4/RefinedWeb-class corpora).

    Not expressible in Catalyst (no codec expression), so this is a
    mapInPandas operator: Arrow-batched, one pass inside the scan
    partition, zero shuffle, output one short row per doc — the payload
    never leaves the executor. At 100 TB this is scan-bound and embarr-
    assingly parallel; determinism is per-zlib-build (fixed level, no
    wall-clock or RNG inputs), asserted in tests/test_llm_ops.py.
    """
    from collections.abc import Iterator

    import pandas as pd

    from boxoffice_spark.tables import spread

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            raw = [t.encode("utf-8") if isinstance(t, str) else b"" for t in pdf[text_col]]
            n_bytes = [len(b) for b in raw]
            z_bytes = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pd.Series(n_bytes, dtype="int64"),
                    "zlib_bytes": pd.Series(z_bytes, dtype="int64"),
                    "compression_ratio": pd.Series(
                        [round(z / n, 6) if n else None for z, n in zip(z_bytes, n_bytes)],
                        dtype="float64",
                    ),
                }
            )

    return spread(df).select(id_col, text_col).mapInPandas(
        batches,
        schema=f"{id_col} long, n_bytes long, zlib_bytes long, compression_ratio double",
    )


def rrf_fuse(rankings, k: int = 10, c: int = 60, round_to: int = 6):
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N ranked
    retrieval lists: each input frame carries (query_id, doc_id, rank) and
    every appearance contributes ``1/(c + rank)``; candidates are ranked
    per query by the summed contribution. The standard hybrid-retrieval
    combiner — it needs only ranks, never score calibration, so a BM25
    list and a cosine list fuse without normalizing incomparable scores.

    Determinism contract: each contribution is
    the EXACT integer HALF_UP of 1/(c + rank) in 1e-10 units
    (functions/numeric.units_div — BIGINT arithmetic, no engine rounding
    rule anywhere), the per-doc accumulation is an exact integer sum
    (order-free under Spark's nondeterministic partial-agg order), and
    the fused score lands on the ``round_to`` grid via fround's pinned
    floor-implemented HALF_UP; ties break on doc_id — hence a cell-exact
    DuckDB oracle with no build-sensitive round(double, k) on either
    side.

    Scale shape: the inputs are already top-k lists — |queries| x k rows
    each, orders of magnitude smaller than the corpora that produced
    them. The union + one narrow (query_id, doc_id) aggregate + per-query
    window all run on that candidate set; the fusion itself never touches
    corpus bytes. At 100 TB the cost lives in the upstream rankers.
    """
    from pyspark.sql import Window as W

    if not rankings:
        raise ValueError("rrf_fuse: at least one ranking is required")
    contrib = [
        r.select(
            "query_id",
            "doc_id",
            _units_div("1", f"{int(c)} + rank", 10).alias("u"),
        )
        for r in rankings
    ]
    unioned = contrib[0]
    for part in contrib[1:]:
        unioned = unioned.unionByName(part)
    w = W.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        unioned.groupBy("query_id", "doc_id")
        .agg(F.sum("u").alias("_su"))
        .select(
            "query_id",
            "doc_id",
            _fround(F.col("_su").cast("double") / 1e10, round_to).alias(
                "rrf_score"
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf_score", "rank")
    )
