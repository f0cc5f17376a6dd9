"""Engine vs pure-Python oracle: rank-identical top-k, scores equal,
exact totals; WAND pruned == exhaustive (SURVEY.md §7 step-3 exit)."""

import pytest

from bright_spark.models import SearchRequest

K = 10

# FIXTURES.md F2 query classes, over the code corpus
QUERIES = [
    "parser",
    "config",
    "user",                      # hot term (Zipfian head)
    "getuserid",
    "getUserId",                 # analyzed to whole identifier
    "parse config",              # multi-term OR
    "user session token",
    "parser AND config",
    "error OR exception",
    "config NOT test",
    "+parse -legacy",
    "quasar_flux_capacitor",     # planted needle
    "omegaZetaHandler",
    "lang:python",               # attr filter only
    "lang:go user",              # attr + scored
    "repo:org1/proj2 config",
    "doc_len:>2000",             # numeric range (Q11 analog)
    "doc_len:>2000 user",
    "pars*",                     # wildcard
    "confg~1",                   # fuzzy
    "parser^2 config",           # boost
    "zzz_nonexistent_term",      # zero hits
    "user AND zzz_nonexistent_term",
    "-user",                     # pure negation
    "read AND write AND buffer",
]

PHRASE_QUERIES = [
    '"user session"',
    '"parse config"',
    'user -"parse config"',
    '-"parse config"',
    '"user session" -"parse config"',
    'config -"user session"',
]


def _assert_parity(engine, oracle, q, k=K, mode="auto"):
    expected, etotal = oracle.search(q, k)
    rows = engine.search_df(q, k=k, mode=mode).collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"rank mismatch for {q!r} ({mode}): {got} vs {expected}")
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"score mismatch {q!r} doc {gd}"


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identical_wand(engine, oracle, q):
    _assert_parity(engine, oracle, q, mode="auto")


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identical_relational(engine, oracle, q):
    expected, _ = oracle.search(q, K)
    rows = engine.search_df(q, k=K, mode="relational").collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    # relational path sums in nondeterministic shuffle order: compare
    # ranks with a tolerance-aware sort
    assert [d for d, _ in got] == [d for d, _ in expected], f"{q!r}: {got} vs {expected}"
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9, abs=1e-9)


@pytest.mark.parametrize("q", PHRASE_QUERIES)
def test_phrases(engine, oracle, q):
    assert engine.meta.get("store_positions")
    _assert_parity(engine, oracle, q)


@pytest.mark.parametrize("q", ["user", "parse config", "user session token",
                               "error OR exception", "parser^2 config"])
def test_wand_pruning_exact(engine, oracle, q):
    """Block-max pruned result must equal the unpruned kernel result."""
    pruned = engine.search_df(q, k=K, mode="wand", prune=True).collect()
    full = engine.search_df(q, k=K, mode="wand", prune=False).collect()
    assert [(r["doc_id"], r["score"]) for r in pruned] == \
           [(r["doc_id"], r["score"]) for r in full]


def test_total_hits_exact(engine, oracle):
    for q in ["user", "parser AND config", "config NOT test", "lang:python",
              "quasar_flux_capacitor", "zzz_nonexistent_term",
              '"parse config"', 'user -"parse config"']:
        _, etotal = oracle.search(q, K)
        resp = engine.search(SearchRequest(q=q, limit=K))
        assert resp.total_hits == etotal, q


def test_match_all(engine, oracle):
    resp = engine.search(SearchRequest(q="", limit=5))
    assert resp.total_hits == oracle.n
    assert len(resp.hits) == 5
    # Q1: every doc, score 1
    assert all(h["_score"] == 1.0 for h in resp.hits)
    assert [h["doc_id"] for h in resp.hits] == [0, 1, 2, 3, 4]


def test_unknown_field_matches_nothing(spark, built_index):
    """Q5: Bleve semantics — a term scoped to a nonexistent field has
    no postings; as a should-clause it contributes nothing."""
    from bright_spark.query.engine import SearchEngine
    eng = SearchEngine(spark, built_index.index_dir)
    assert eng.search_df("nosuchfield:user", k=5).collect() == []
    assert eng.search_df("user AND nosuchfield:user", k=5).collect() == []
    with_unknown = [(r["doc_id"], round(r["score"], 9))
                    for r in eng.search_df("user nosuchfield:zzz", k=5).collect()]
    plain = [(r["doc_id"], round(r["score"], 9))
             for r in eng.search_df("user", k=5).collect()]
    assert with_unknown == plain
    # NOT on an unknown field excludes nothing
    neg = [(r["doc_id"], round(r["score"], 9))
           for r in eng.search_df("user NOT nosuchfield:zzz", k=5).collect()]
    assert neg == plain


def test_escaped_colon_round_trip(spark, built_index):
    r"""parse\:config is a literal colon-bearing token, not a field
    prefix; the analyzer then splits the literal, so it must score
    exactly like the two-term query (and NOT like a field lookup)."""
    from bright_spark.query.engine import SearchEngine
    eng = SearchEngine(spark, built_index.index_dir)
    a = [(r["doc_id"], round(r["score"], 9))
         for r in eng.search_df(r"parse\:config", k=K).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in eng.search_df("parse config", k=K).collect()]
    assert a == b and a


def test_wildcard_expansion_cap_errors(spark, tmp_path):
    """Bleve parity: a pattern matching more than MAX_EXPANSIONS index
    terms raises TooManyClauses instead of silently answering over a
    truncated expansion."""
    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig
    from bright_spark.query.engine import SearchEngine
    from bright_spark.query.planner import MAX_EXPANSIONS, TooManyClausesError
    text = " ".join(f"zzq{i:05d}" for i in range(MAX_EXPANSIONS + 10))
    df = spark.createDataFrame(
        [("r", "p", "c" * 40, "python", text)],
        "repo STRING, path STRING, commit STRING, lang STRING, content STRING")
    idx = str(tmp_path / "capidx")
    build_index(spark, df, idx, IndexConfig(id="cap"), n_build_partitions=2)
    eng = SearchEngine(spark, idx)
    with pytest.raises(TooManyClausesError):
        eng.search_df("zzq*", k=5)
    with pytest.raises(TooManyClausesError):
        eng.search_df("zzq00000~5", k=5)  # ~5 covers every zzqNNNNN term
    # under the cap the expansion still answers
    assert eng.search_df("zzq0000*", k=5).count() == 1
    # truncate mode (bench comparability): answers over the first cap
    # terms and flags the pattern in the response envelope
    trunc = SearchEngine(spark, idx, on_overflow="truncate")
    resp = trunc.search("zzq*")
    assert resp.hits and resp.truncated_expansions == ["wildcard 'zzq*'"]
    assert "truncatedExpansions" in resp.to_dict()
    clean = trunc.search("zzq0000*")
    assert not clean.truncated_expansions
    assert "truncatedExpansions" not in clean.to_dict()
