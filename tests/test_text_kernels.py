"""One token pass per text kernel.

* ``language_id``, ``quality_score`` and ``quality_features`` equal the
  multi-pass expressions they replaced (transcribed verbatim below as
  ``_old_*``) on generated text: None, empty, whitespace runs with
  tabs and newlines, punctuation-only, mixed case and non-ASCII.
* Each of ``language_id`` and ``quality_score`` tokenizes once.
* ``decontaminate`` stages its tokens: no lambda in its optimized plan
  splits the text.
* MinHash banding evaluates each signature once: no Filter of the
  pinned band stage re-runs the md5 digests.
* ``cascade_delete`` tests FKs against the bad ids with an existence
  join: no aggregate dedups the bad-id side.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cds_etl_spark.functions.text import tokens
from cds_etl_spark.operators import dedup as dedup_mod
from cds_etl_spark.operators import cascade_delete
from cds_etl_spark.operators.dedup import minhash_lsh_pairs
from cds_etl_spark.operators.retrieval import decontaminate
from cds_etl_spark.operators.text_analysis import (
    LANG_LEXICONS,
    PUNCT_RE,
    language_id,
    quality_features,
    quality_score,
)
from cds_etl_spark.plans import QUERIES

# --------------------------------------------------------------------------
# The multi-pass expressions, as they stood before the one-pass rewrite.
# --------------------------------------------------------------------------


def _hit_count(toks, lexicon):
    """Number of tokens present in the lexicon (with multiplicity)."""
    lex = F.array(*[F.lit(w) for w in lexicon])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))


def _old_language_scores(text):
    toks = tokens(text)
    return {lang: _hit_count(toks, lex) for lang, lex in LANG_LEXICONS.items()}


def _old_language_id(text, default="und"):
    scores = _old_language_scores(text)
    best_score = F.greatest(*scores.values())
    out = F.lit(default)
    # Reverse order so earlier lexicons win exact ties.
    for lang in reversed(list(scores)):
        out = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(out)
    return F.when(best_score > 0, out).otherwise(F.lit(default))


def _old_quality_features(text):
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(PUNCT_RE), 0))
    n_stop = _hit_count(toks, LANG_LEXICONS["en"])
    mean_tok_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double")
        / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "punct_ratio": F.when(
            n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_tok > 0, n_stop.cast("double") / n_tok.cast("double")
        ).otherwise(F.lit(0.0)),
        "mean_token_len": mean_tok_len,
    }


def _old_quality_score(text):
    feats = _old_quality_features(text)
    ok_len = (feats["n_tokens"] >= 5) & (feats["n_tokens"] <= 100000)
    ok_stop = feats["stopword_ratio"] > 0
    ok_punct = feats["punct_ratio"] < 0.2
    ok_toklen = (feats["mean_token_len"] >= 2.0) & (feats["mean_token_len"] <= 12.0)
    score = (
        F.when(ok_len, 1).otherwise(0)
        + F.when(ok_stop, 1).otherwise(0)
        + F.when(ok_punct, 1).otherwise(0)
        + F.when(ok_toklen, 1).otherwise(0)
    )
    return score.cast("double") / F.lit(4.0)


# --------------------------------------------------------------------------
# Equivalence
# --------------------------------------------------------------------------

_LEXICON_WORDS = sorted({w for lex in LANG_LEXICONS.values() for w in lex})
_WORDS = st.one_of(
    st.sampled_from(_LEXICON_WORDS),
    st.sampled_from(_LEXICON_WORDS).map(str.upper),
    st.sampled_from(_LEXICON_WORDS).map(str.title),
    st.sampled_from(
        ["cat", "Hund", "été", "straße", "ÇA", "naïve", "日本語", "😀",
         "x1", "42", "...", "!!", "-", "'s", "a.b", "é"]
    ),
    st.text(alphabet="abcDEF!?.,;:-'\"()é ü", min_size=1, max_size=6),
)
_SEPS = st.sampled_from([" ", "  ", "\t", "\n", " \t ", "\r\n", ""])


@st.composite
def _joined(draw):
    words = draw(st.lists(_WORDS, max_size=12))
    out = draw(_SEPS)
    for w in words:
        out += w + draw(_SEPS)
    return out


_TEXTS = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "   ", "\t", "\n", " \t\n ", "!!!", "... ?!", "ÉTÉ"]),
    st.text(max_size=30),
    _joined(),
)


@given(texts=st.lists(_TEXTS, min_size=1, max_size=40))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_one_pass_kernels_equal_multi_pass(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    txt = F.col("text")
    new_feats = quality_features(txt)
    old_feats = _old_quality_features(txt)
    cols = [
        language_id(txt).alias("lang_new"),
        _old_language_id(txt).alias("lang_old"),
        quality_score(txt).alias("q_new"),
        _old_quality_score(txt).alias("q_old"),
    ]
    for name in old_feats:
        cols += [new_feats[name].alias(f"{name}_new"), old_feats[name].alias(f"{name}_old")]
    for row, text in zip(df.select(*cols).collect(), texts):
        d = row.asDict()
        for name in ["lang", "q", *old_feats]:
            assert d[f"{name}_new"] == d[f"{name}_old"], (name, text, d)


# --------------------------------------------------------------------------
# Plan shape
# --------------------------------------------------------------------------


def _plan_nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _lambdas(expr_text: str) -> list[str]:
    """Every ``lambdafunction(...)`` in an expression string, with its
    balanced argument list."""
    out = []
    for m in re.finditer(r"lambdafunction\(", expr_text):
        depth, i = 1, m.end()
        while depth and i < len(expr_text):
            depth += {"(": 1, ")": -1}.get(expr_text[i], 0)
            i += 1
        out.append(expr_text[m.start():i])
    return out


def test_language_id_and_quality_score_tokenize_once():
    for kernel in (language_id, quality_score):
        assert str(kernel(F.col("text"))).count("split(") == 1, kernel.__name__


def test_decontaminate_stages_tokens(spark, sf_dir):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "a b c d")], "id int, text string"
    )
    probe = spark.createDataFrame([("quick brown fox",)], "text string")
    # The two registry queries that call word_shingles_from_tokens
    # directly must stage their tokens the same way.
    frames = {
        "decontaminate": decontaminate(corpus, probe, "id", "text"),
        **{q: QUERIES[q](spark, sf_dir)
           for q in ("qs122_minhash_signatures", "qs152_bloom_decontaminate")},
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan()
        lambdas = [
            lam
            for node in _plan_nodes(plan)
            for j in range(node.expressions().size())
            for lam in _lambdas(node.expressions().apply(j).toString())
        ]
        assert lambdas, f"{name}: expected the shingle transform's lambda in the plan"
        assert not [lam for lam in lambdas if "split(" in lam], (name, lambdas)


def test_minhash_band_stage_filters_carry_no_digest(spark, monkeypatch):
    pinned = []
    real_cut = dedup_mod.cut_lineage

    def recording_cut(df, *args, **kwargs):
        pinned.append(df._jdf.queryExecution().optimizedPlan())
        return real_cut(df, *args, **kwargs)

    monkeypatch.setattr(dedup_mod, "cut_lineage", recording_cut)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over"), (2, "the quick brown fox jumps high"),
         (3, "an entirely different document here")],
        "doc_id int, text string",
    )
    pairs = minhash_lsh_pairs(docs, min_jaccard=0.1).collect()
    assert {(r["d1"], r["d2"]) for r in pairs} <= {(1, 2), (1, 3), (2, 3)}
    band_stage = [p for p in pinned if "posexplode" in p.toString()]
    assert band_stage, "expected a pinned band stage"
    filters = [
        node.condition().toString()
        for plan in band_stage
        for node in _plan_nodes(plan)
        if node.nodeName() == "Filter"
    ]
    assert not [c for c in filters if "md5" in c], filters


def test_cascade_delete_has_no_aggregate_on_bad_ids(spark):
    mapping = [
        {"node": "participant", "parent_node": "study", "property": "sid",
         "relationship": "of_study"},
        {"node": "sample", "parent_node": "participant", "property": "pid",
         "relationship": "of_participant"},
    ]
    tables = {
        "participant": spark.createDataFrame(
            [(1, 10), (2, 11), (3, 10)], "pid int, `study.sid` int"
        ),
        "sample": spark.createDataFrame(
            [(100, 1), (101, 2), (102, 3)], "smid int, `participant.pid` int"
        ),
    }
    bad = spark.createDataFrame([(10,), (10,)], "sid int")
    out = cascade_delete(
        tables, mapping, {"participant": "pid", "sample": "smid"}, bad, "study"
    )
    assert sorted(r["smid"] for r in out["sample"].collect()) == [101]
    for node in ("participant", "sample"):
        plan = out[node]._jdf.queryExecution().optimizedPlan()
        names = [n.nodeName() for n in _plan_nodes(plan)]
        assert "Aggregate" not in names, (node, plan.toString())
        assert "ExistenceJoin" in plan.toString(), plan.toString()
