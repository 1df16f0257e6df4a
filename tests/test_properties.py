"""Property-based tests (hypothesis) for the custom operator library — the
algebraic contracts that must hold for ANY input, not just the fixtures:

- merge_upsert: key-uniqueness of output, idempotence, last-writer-wins
- idempotent_backfill: re-applying the same backfill is a no-op
- coercive_cast: zero-fill (never null) on unparseable input — the
  reference's exact utils.py:32-34 semantics
- fuzzy join: deterministic under input row order (tie-break contract)
- salted ops: equal to their unsalted plans for any salt
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from boxoffice_spark.functions.cleaning import coercive_cast
from boxoffice_spark.operators.skew import salted_distinct_count
from boxoffice_spark.operators.upsert import idempotent_backfill, merge_upsert

_SETTINGS = dict(
    max_examples=8,  # each example spins Spark jobs — keep the loop tight
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

keyed_rows = st.dictionaries(
    st.integers(min_value=0, max_value=20),  # key
    st.integers(min_value=-1000, max_value=1000),  # value
    min_size=0,
    max_size=12,
)


def _df(spark, d: dict, src: int):
    rows = [(k, v, src) for k, v in d.items()]
    return spark.createDataFrame(rows or [], "k int, v int, tag int")


@given(old=keyed_rows, new=keyed_rows)
@settings(**_SETTINGS)
def test_merge_upsert_properties(spark, old, new):
    df_old, df_new = _df(spark, old, 0), _df(spark, new, 1)
    merged = merge_upsert(df_old, df_new, ["k"]).collect()
    got = {r.k: (r.v, r.tag) for r in merged}
    want = {k: (v, 0) for k, v in old.items()} | {k: (v, 1) for k, v in new.items()}
    assert got == want  # last-writer-wins, unmatched survive
    assert len(merged) == len(got)  # key-unique output
    # idempotence: merging new again changes nothing
    again = merge_upsert(_df(spark, old, 0), df_new, ["k"])
    assert {r.k: (r.v, r.tag) for r in merge_upsert(again, df_new, ["k"]).collect()} == got


def test_backfill_null_predicate_keeps_row(spark):
    """DELETE-WHERE null semantics: a row whose predicate evaluates to
    NULL (null date outside the range) must survive the backfill
    (regression: ~predicate silently deleted it forever)."""
    from boxoffice_spark.operators.upsert import idempotent_backfill

    cur = spark.createDataFrame(
        [(1, "1996-01-15"), (2, None), (3, "1997-05-01")], "k int, d string"
    ).select("k", F.col("d").cast("date").alias("d"))
    pred = F.col("d").between("1996-01-01", "1996-01-31")
    repl = cur.filter(pred)
    out = {r.k for r in idempotent_backfill(cur, repl, pred).collect()}
    assert out == {1, 2, 3}


@given(data=keyed_rows, repl=keyed_rows)
@settings(**_SETTINGS)
def test_backfill_idempotent(spark, data, repl):
    current = _df(spark, data, 0)
    pred = F.col("k") % 2 == 0
    replacement = _df(spark, repl, 1).filter(pred)
    once = idempotent_backfill(current, replacement, pred)
    twice = idempotent_backfill(once, replacement, pred)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(
    raws=st.lists(
        st.one_of(
            st.integers(-10**6, 10**6).map(str),
            st.text(alphabet="abc .-", max_size=6),
            st.none(),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_coercive_cast_zero_fills(spark, raws):
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    out = [r.x for r in df.select(coercive_cast("raw", "double").alias("x")).collect()]
    for r, x in zip(raws, out):
        try:
            assert x == float(r)
        except (TypeError, ValueError):
            assert x == 0.0  # failed casts become ZERO, never null


@given(vals=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), max_size=30))
@settings(**_SETTINGS)
def test_salted_distinct_equals_plain(spark, vals):
    df = spark.createDataFrame(vals or [], "k int, v int")
    got = {
        r.k: r.n_distinct for r in salted_distinct_count(df, ["k"], "v", salt=4).collect()
    }
    want = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.count_distinct("v").alias("n")).collect()
    }
    assert got == want


# non-ASCII chars included: gram units are CHARACTERS in both kernels
# (winnow_fp_sets slices codepoints, not UTF-8 bytes), so the w+k-1
# guarantee must hold by char count for multi-byte text too.
_alpha = "abcdefgh 한글é"
_words = st.lists(
    st.text(alphabet=_alpha, min_size=0, max_size=40), min_size=0, max_size=4
)


@given(shared=st.text(alphabet=_alpha, min_size=29, max_size=60), pads=_words)
@settings(**_SETTINGS)
def test_winnow_guarantee_holds_for_any_strings(spark, shared, pads):
    """Winnowing contract (both kernels): two docs embedding the SAME
    >= w+k-1-char substring must share at least one fingerprint, for ANY
    surrounding text — including whitespace collapse by normalization and
    multi-byte (non-ASCII) characters."""
    from boxoffice_spark.operators.winnow import winnow_fingerprints, winnow_fp_sets

    p = pads + ["", "", "", ""]
    rows = [(1, f"{p[0]} {shared} {p[1]}"), (2, f"{p[2]} {shared} {p[3]}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # guarantee length is on the NORMALIZED text: skip degenerate cases
    # where collapsing whitespace shrinks the shared run below w + k - 1
    import re

    norm_shared = re.sub(r"\s+", " ", shared.lower()).strip()
    if len(norm_shared) < 29:
        return
    kernels = (winnow_fingerprints, winnow_fp_sets)
    out = {fn: fn(df, "doc_id", "text").collect() for fn in kernels}
    for fn, got in out.items():
        by_doc = {}
        for r in got:
            by_doc.setdefault(r.doc_id, set()).add(r.fp)
        assert by_doc.get(1, set()) & by_doc.get(2, set()), fn.__name__
    # pos is a CHAR-gram offset: must stay inside the char-gram count (a
    # byte-based gram loop would overrun this on non-ASCII text);
    # winnow_fp_sets keeps no pos
    max_pos = max(r.pos for r in out[winnow_fingerprints])
    longest = max(len(re.sub(r"\s+", " ", t.lower()).strip()) for _, t in rows)
    assert max_pos <= longest - 20 + 1


@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=60), min_size=1, max_size=5
    )
)
@settings(**_SETTINGS)
def test_line_dedup_identity_and_conservation(spark, texts):
    """For ANY corpus: (a) kept + dropped == total units per doc; (b) when
    no unit repeats corpus-wide, every cleaned_text equals the normalized
    original (the operator is the identity on repeat-free corpora); (c)
    cleaned_text is always a subsequence-join of the doc's own units."""
    import re

    from boxoffice_spark.operators.dedup import line_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, "doc_id", "text", unit_words=4).collect()}
    units_by_doc = {}
    all_units = []
    for i, t in rows:
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        words = norm.split(" ") if norm else []
        units = [" ".join(words[j : j + 4]) for j in range(0, len(words), 4)]
        units_by_doc[i] = units
        all_units.extend(units)
    for i, units in units_by_doc.items():
        r = out[i]
        assert r.n_kept + r.n_dropped == len(units)
        kept_join = r.cleaned_text.split(" ") if r.cleaned_text else []
        # (c) kept text is a concatenation of a subset of the doc's units
        assert " ".join(kept_join) == r.cleaned_text
    if len(set(all_units)) == len(all_units):  # repeat-free corpus
        for i, units in units_by_doc.items():
            assert out[i].cleaned_text == " ".join(units)
            assert out[i].n_dropped == 0


@given(
    texts=st.lists(
        st.text(
            # latin, digits, punctuation, whitespace, Hangul, CJK, accents —
            # the alphabets where Java-regex and RE2 classes could drift
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"),
                whitelist_characters="가힣한글漢字中文éüñ\t\n",
            ),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_bpeish_token_count_matches_duckdb(spark, texts):
    """The BPE-ish token estimator must agree cell-for-cell between the
    Spark expression (Java regex) and the DuckDB oracle twin (RE2) for ANY
    unicode input — three oracle-backed queries (datacard, token mix,
    sequence packing) ride this parity."""
    import duckdb

    from boxoffice_spark.operators.textstats import BPEISH_SQL, bpe_ish_token_count

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r.i: r.n
        for r in df.select("i", bpe_ish_token_count("text").alias("n")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.execute(f"SELECT i, {BPEISH_SQL.format(col='text')} FROM t").fetchall()
    )
    assert got == want
