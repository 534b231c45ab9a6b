"""BPE tokenizer tests: t22's merge learner and t23's encode.

The learner (``learn_bpe_merges`` / ``_learn_merges``) is checked
against a list-walking pure-Python Sennrich reference, and learn and
encode are both checked against freshly-unrolled DuckDB oracles at
merge depth 8 — the independent check, since the driver learner and
the reference share an algorithm. Also covered: the '|' boundary
sentinel guards, the map_rows encode kernel, the vocabulary cap,
the learner's Spark job budget and degenerate corpora.
"""

from __future__ import annotations

import collections

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import count_jobs
from omop_dump_to_parquet_spark import load_catalog
from omop_dump_to_parquet_spark.operators import text as T
from omop_dump_to_parquet_spark.sources.parquet import table


def _py_bpe(words: dict[str, int], iters: int):
    """Reference Sennrich learner over symbol lists. Returns
    ``(merges, exhausted_at)``: the iteration at which the pair table
    went empty, or None if all ``iters`` merges were learned."""
    syms = {w: list(w) for w in words}
    merges = []
    for it in range(1, iters + 1):
        pc = collections.Counter()
        for w, c in words.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        if not pc:
            return merges, it
        (lft, rgt), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((it, lft, rgt, lft + rgt, cnt))
        for w, s in syms.items():
            out, k = [], 0
            while k < len(s):
                if k + 1 < len(s) and s[k] == lft and s[k + 1] == rgt:
                    out.append(lft + rgt)
                    k += 2
                else:
                    out.append(s[k])
                    k += 1
            syms[w] = out
    return merges, None


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _check_corpus(spark, texts: list[str], iters: int) -> None:
    """Triple certification of learn+encode at `iters` merge depth:
    learned merges vs ``_py_bpe``, and learn and encode vs the
    matching-depth DuckDB oracles."""
    words = collections.Counter(w for t in texts for w in t.split(" "))
    want_merges, exhausted_at = _py_bpe(dict(words), iters)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    if exhausted_at is not None:
        with pytest.raises(ValueError, match="exhausted all adjacent"):
            T.learn_bpe_merges(docs, iters=iters)
        return
    got_merges = T.learn_bpe_merges(docs, iters=iters)
    assert got_merges == want_merges, (texts, got_merges, want_merges)

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    try:
        got22 = _normalize(
            pd.DataFrame(
                got_merges,
                columns=[
                    "iteration", "left_sym", "right_sym",
                    "merged_sym", "pair_count",
                ],
            )
        )
        want22 = _normalize(con.sql(T._t22_oracle(iters)).df())
        pd.testing.assert_frame_equal(got22, want22, check_dtype=False)
        got23 = _normalize(T.bpe_encode(docs, got_merges).toPandas())
        want23 = _normalize(con.sql(T._t23_oracle(iters)).df())
        pd.testing.assert_frame_equal(got23, want23, check_dtype=False)
    finally:
        con.close()


def _write_documents(spark, tmp_path, texts: list[str | None]) -> str:
    """Materialize a minimal documents fixture (doc_id, text) the way
    sf dirs are laid out, so the registered t22/t23 queries and their
    DuckDB oracles both read it unchanged."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


def _oracle(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        # Spark writes the table as a directory of part files
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    try:
        return con.sql(sql).df()
    finally:
        con.close()


# enough distinct multi-char words that 3 BPE iterations never exhaust,
# plus whitespace shapes: double and triple interior runs, leading and
# trailing spaces (empty tokens at every position).
MESSY_CORPUS = [
    "low low low lower lower newest newest",
    "low  lower   newest newest lowest",
    " low lower newest ",
    "newest  newest lowest lowest",
]


# --------------------------------------------------------------------------
# learning (t22)
# --------------------------------------------------------------------------


def test_learn_merges_matches_reference_without_spark():
    """The driver learner is pure Python: it runs with no session and
    agrees with the list-walking reference, including repeated-char
    chains, newline symbols and the empty word."""
    for words in [
        {"aaaa": 2, "aaa": 1, "aa": 3, "baab": 2, "abba": 1},
        {"ab\ncd": 3, "xy\nxy": 2, "zw": 3, "": 4},
        {"low": 5, "lower": 2, "newest": 6, "widest": 3},
    ]:
        want, exhausted_at = _py_bpe(words, 8)
        if exhausted_at is None:
            assert T._learn_merges(words.items(), 8) == want
        else:
            with pytest.raises(
                ValueError,
                match=f"exhausted all adjacent pairs at iteration {exhausted_at} ",
            ):
                T._learn_merges(words.items(), 8)
    # ties break by code point: U+FF41 sorts before U+1D54F (UTF-8 byte
    # order), though UTF-16 code-unit order would put the surrogate first
    tie = {"\U0001d54f\U0001d54f": 1, "ａａ": 1}
    assert T._learn_merges(tie.items(), 1)[0][1:3] == ("ａ", "ａ")
    with pytest.raises(ValueError, match="exhausted all adjacent pairs at iteration 1 "):
        T._learn_merges([], 1)


def test_learn_bpe_handles_newline_characters(spark):
    """A newline inside a word must be its own symbol, matching the
    per-character reference (a symbol split that skips line
    terminators, like Java-regex '.' without (?s), would fuse it)."""
    docs = spark.createDataFrame(
        [(0, "ab\ncd ab\ncd xy"), (1, "ab\ncd xy xy")],
        "doc_id long, text string",
    )
    got = T.learn_bpe_merges(docs, iters=2)
    want, _ = _py_bpe({"ab\ncd": 3, "xy": 3}, iters=2)
    assert got == want
    # with \n as a real symbol, ('a','b') / ('b','\n') / ('\n','c') /
    # ('c','d') each count 3 — the winning first pair is the reference's
    assert got[0][1:3] == want[0][1:3]


def test_learn_bpe_merge_exhaustion_fails_loud(spark):
    """When every word is fully merged before `iters` runs out the
    learner must raise ValueError (the oracle unrolls exactly `iters`
    layers — silently returning fewer merges would diverge), not die
    with IndexError."""
    docs = spark.createDataFrame(
        [(0, "ab ab a b")], "doc_id long, text string"
    )
    # iter 1 merges (a,b)->ab everywhere; iter 2 has no pairs left
    with pytest.raises(ValueError, match="exhausted all adjacent"):
        T.learn_bpe_merges(docs, iters=2)


@pytest.mark.parametrize("iters", [3, 8])
def test_learn_bpe_merges_job_budget(spark, sf_small, iters):
    """Learning costs the vocabulary count and its one collect, at
    any merge depth: no Spark job per iteration."""
    docs = table(spark, sf_small, "documents")
    merges, jobs = count_jobs(
        spark, lambda: T.learn_bpe_merges(docs, iters=iters), f"bpe-{iters}"
    )
    assert len(merges) == iters
    assert 1 <= jobs <= 2, jobs


def test_learn_bpe_vocab_cap_fails_loud(spark, sf_small, monkeypatch):
    """A vocabulary over BPE_MAX_VOCAB must raise, naming the cap,
    instead of collecting a corpus-sized table to the driver."""
    monkeypatch.setattr(T, "BPE_MAX_VOCAB", 1)
    with pytest.raises(ValueError, match="BPE_MAX_VOCAB"):
        T.learn_bpe_merges(table(spark, sf_small, "documents"))


@pytest.mark.parametrize("qid", ["t22_bpe_merges", "t23_bpe_encode"])
def test_bpe_empty_documents_fail_named(spark, tmp_path, qid):
    """An empty documents table has no pairs to merge: a named
    ValueError at iteration 1, not a worker traceback or IndexError."""
    sf_dir = _write_documents(spark, tmp_path, [])
    queries, _ = load_catalog()
    with pytest.raises(
        ValueError, match="exhausted all adjacent pairs at iteration 1 "
    ):
        queries[qid](spark, sf_dir).collect()


@pytest.mark.parametrize("qid", ["t22_bpe_merges", "t23_bpe_encode"])
def test_bpe_all_null_text_fails_named(spark, tmp_path, qid):
    """All-NULL text yields an empty vocabulary: the same named
    ValueError at iteration 1."""
    sf_dir = _write_documents(spark, tmp_path, [None, None, None])
    queries, _ = load_catalog()
    with pytest.raises(
        ValueError, match="exhausted all adjacent pairs at iteration 1 "
    ):
        queries[qid](spark, sf_dir).collect()


def test_t22_matches_oracle_on_consecutive_spaces(spark, tmp_path):
    """Empty vocabulary 'words' (from space runs) must count and
    filter identically on both sides, and the double-leading-space
    symbol form must learn the same merges as the oracle's sym0."""
    sf_dir = _write_documents(spark, tmp_path, MESSY_CORPUS)
    queries, oracles = load_catalog()
    got = _normalize(queries["t22_bpe_merges"](spark, sf_dir).toPandas())
    want = _normalize(_oracle(sf_dir, oracles["t22_bpe_merges"]))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_t22_symbol_rep_is_byte_identical_to_oracle_sym0():
    """The learned-rep invariant itself: '  a  b  c  ' with DOUBLE
    leading space, exactly the oracle's '  ' || join || '  ' form —
    per code point, for newline, astral-plane and empty words too."""
    assert T._symbols("abc") == "  a  b  c  "
    for word in ["abc", "a\nb", "x\U0001d54fy", ""]:
        want = duckdb.execute(
            "SELECT '  ' || array_to_string(string_split($1, ''), '  ')"
            " || '  '",
            [word],
        ).fetchone()[0]
        assert T._symbols(word) == want, word


# --------------------------------------------------------------------------
# learn + encode at depth 8 against the unrolled DuckDB oracles
# --------------------------------------------------------------------------


def test_bpe_depth8_on_adversarial_fixed_corpora(spark):
    """Merged symbols that themselves contain earlier merges (repeated
    chars), newline symbols, empty tokens from space runs and
    astral-plane characters, at depth 8."""
    for texts in [
        # repeated-char words: (a,a)->aa then (aa,a)/(aa,aa) chains —
        # the non-overlapping replace() scan must match the reference's
        # left-to-right per-word walk at every depth
        ["aaaa aaaa aaa aa baab baab", "aaab aaab aaab abba"],
        # newline-bearing words
        ["ab\ncd ab\ncd ab\ncd xy\nxy", "ab\ncd xy\nxy zw zw zw"],
        # empty tokens everywhere: interior runs + leading/trailing
        ["low  low   lower lower ", " newest  newest newest low"],
        # astral-plane (surrogate-pair) characters: learner, encode and
        # oracle must all walk code points — a UTF-16-unit walk halves 𝕏
        ["x\U0001d54fy x\U0001d54fy x\U0001d54fy zz\U0001d54f zz\U0001d54f",
         "abcd abcd abcd x\U0001d54fy efgh efgh"],
    ]:
        _check_corpus(spark, texts, iters=8)


def test_bpe_depth8_randomized_property(spark):
    """Hypothesis over random corpora from a small alphabet (incl.
    newline and space) — merge depth 8, triple-certified."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.text(alphabet="ab c\n", min_size=0, max_size=40),
            min_size=1,
            max_size=3,
        )
    )
    def inner(texts: list[str]) -> None:
        _check_corpus(spark, texts, iters=8)

    inner()


# --------------------------------------------------------------------------
# encoding (t23)
# --------------------------------------------------------------------------


def test_t23_matches_oracle_on_consecutive_spaces(spark, tmp_path):
    """Runs of spaces render the empty token between them exactly as
    the oracle's string_split path does (one pipe per space would
    hash-fail encoded_md5 and n_bpe_symbols on multi-space input)."""
    sf_dir = _write_documents(spark, tmp_path, MESSY_CORPUS)
    queries, oracles = load_catalog()
    got = _normalize(queries["t23_bpe_encode"](spark, sf_dir).toPandas())
    want = _normalize(_oracle(sf_dir, oracles["t23_bpe_encode"]))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_t23_driver_guard_rejects_pipe_in_learned_merge(spark, tmp_path):
    """A corpus whose dominant pair contains '|' must fail loud at the
    driver (before any encode job runs): a merge symbol containing the
    sentinel could cross word boundaries at apply time."""
    sf_dir = _write_documents(
        spark, tmp_path, ["a| a| a| a| a| bcd efg hij"]
    )
    queries, _ = load_catalog()
    with pytest.raises(ValueError, match="boundary[ ]sentinel"):
        queries["t23_bpe_encode"](spark, sf_dir).collect()


def test_t23_row_guard_rejects_pipe_in_text(spark, tmp_path):
    """A document containing '|' that never reaches a learned merge
    must still fail loud at encode time (row-level raise in the same
    map-side pass, zero extra jobs)."""
    # '|' appears once, in a unique word: every learned merge comes
    # from the repeated plain words, so the driver-side guard passes
    # and the row-level guard is the one that must fire.
    sf_dir = _write_documents(
        spark,
        tmp_path,
        ["low low low lower lower newest newest", "odd|word here"],
    )
    queries, _ = load_catalog()
    with pytest.raises(Exception, match="sentinel"):
        queries["t23_bpe_encode"](spark, sf_dir).collect()


def test_bpe_encode_kernel_matches_expression_chain(spark, sf_small):
    """The map_rows encode must be byte-identical to the
    whole-stage-codegen expression chain it replaced, row for row
    (same boundary rendering, same replace semantics, same md5)."""
    docs = table(spark, sf_small, "documents")
    merges = T.learn_bpe_merges(docs)

    rep = F.concat(
        F.lit(" "),
        F.array_join(
            F.transform(
                T.tokens("text"),
                lambda w: F.rtrim(F.regexp_replace(w, "(?s)(.)", "$1  ")),
            ),
            "  |  ",
        ),
        F.lit("  "),
    )
    for _, lft, rgt, merged, _cnt in merges:
        rep = F.replace(rep, F.lit(f" {lft}  {rgt} "), F.lit(f" {merged} "))
    n_ws = F.size(T.tokens("text"))
    reference = docs.select(
        "doc_id",
        n_ws.cast("long").alias("n_ws_tokens"),
        (F.size(F.split(F.trim(rep), "  ")) - (n_ws - F.lit(1)))
        .cast("long")
        .alias("n_bpe_symbols"),
        F.md5(F.trim(rep)).alias("encoded_md5"),
    )
    got = sorted(map(tuple, T.bpe_encode(docs, merges).collect()))
    want = sorted(map(tuple, reference.collect()))
    assert got == want and len(got) > 0


def test_bpe_encode_kernel_null_text_yields_null_metrics(spark):
    """NULL text must yield NULL metrics (the expression chain's
    size(NULL)/md5(NULL) behavior), not a crash."""
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in T.bpe_encode(docs, []).collect()}
    assert rows[2]["n_ws_tokens"] is None
    assert rows[2]["n_bpe_symbols"] is None
    assert rows[2]["encoded_md5"] is None
    assert rows[1]["encoded_md5"] is not None


def test_bpe_encode_kernel_sentinel_guard_raises(spark):
    """The row-level '|' sentinel guard must still fail loud from
    inside the kernel."""
    docs = spark.createDataFrame(
        [(1, "a | b")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="sentinel"):
        T.bpe_encode(docs, []).collect()
