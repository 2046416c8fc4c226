"""JVM-side StandardAnalyzer front end: tokenize + lowercase with
Spark builtins so the index build's hot loop never enters Python.

The ASCII subset of the UAX#29 word-break grammar (the exact pattern
``tokenizer._A_WORD`` that the Python ASCII fast path compiles) is a
plain regular expression that Java's regex engine evaluates with the
same leftmost-longest-alternation semantics as Python's ``re`` — so
``regexp_extract_all`` produces the identical token stream JVM-side at
JVM-string-scan speed. Lowercasing is ONE ``transform(lower)``.

Deliberately NOT done here: the StopFilter. Spark's higher-order
array functions are interpreted per element (no codegen), and building
(term, index) structs + filtering them cost ~5× the tokenization
itself (measured: 3s regex vs 16s struct/filter on 9.6M tokens).
The builders stop-filter in vectorized numpy instead — positions are
the raw token indices (so StopFilter's position-gap behavior,
analysis/FilteringTokenFilter.java:47-57, falls out), and BM25 doc
length counts only surviving tokens.

Rows the ASCII grammar cannot handle exactly — any non-ASCII character
(full Unicode word-break classes) or a 256+ run of token characters
(StandardAnalyzer's 255-char chop, StandardAnalyzer.java:61-69) — keep
their content, and the Python task that consumes them (a segment
builder) runs them through the Python analyzer
(:func:`finish_python_rows`). Golden tests pin the two paths to
byte-identical output on the shared domain.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .tokenizer import _A_WORD, MAX_TOKEN_LENGTH, standard_tokenize


def _needs_python(content, raw_tokens, max_token_length: int):
    """Column predicate: row needs the Python analyzer — any non-ASCII
    char (UTF-8 byte length > char length; full Unicode word-break
    classes apply) or an ASCII token longer than max_token_length
    (StandardAnalyzer's chop, StandardAnalyzer.java:61-69). Both checks
    are O(n) scans — a bounded-repetition regex here cost ~5× the
    tokenization itself (measured 14s vs 3s on 60 MB)."""
    return (F.length(content) != F.octet_length(content)) | F.exists(
        raw_tokens, lambda t: F.length(t) > max_token_length)


def python_tokens(content: str, max_token_length: int) -> list[str]:
    """One document's token stream from the Python analyzer (full
    Unicode + 255-chop): lowered, UNFILTERED — position = list index,
    like the JVM branch."""
    return [t.lower() for t in standard_tokenize(content, max_token_length)]


def finish_python_rows(pdf: pd.DataFrame, passes,
                       max_token_length: int = MAX_TOKEN_LENGTH
                       ) -> pd.DataFrame:
    """Finish, in the pandas batch of the task consuming them, the rows
    :func:`analyzed_deferred` left to the Python analyzer: per
    ``(tokens_col, py_content_col, with_sha)`` pass, each row with
    retained content gets :func:`python_tokens` of it (and with
    ``with_sha`` its ``content_sha256``). Passes whose column is absent
    are skipped; the retained-content columns are dropped."""
    for tokens_col, py_col, with_sha in passes:
        if py_col not in pdf.columns:
            continue
        texts = pdf[py_col].to_numpy()
        toks = pdf[tokens_col].to_numpy(copy=True)
        shas = pdf["content_sha256"].to_numpy(copy=True) if with_sha else None
        for i in np.flatnonzero(pd.notna(texts)):
            toks[i] = python_tokens(texts[i], max_token_length)
            if with_sha:
                shas[i] = hashlib.sha256(texts[i].encode("utf-8")).hexdigest()
        pdf[tokens_col] = toks
        if with_sha:
            pdf["content_sha256"] = shas
    return pdf.drop(columns=[p for _t, p, _s in passes if p in pdf.columns])


#: deferred-mode column holding the retained content of rows that need
#: the Python analyzer (NULL on the JVM-analyzed mainline, so parquet
#: RLEs it away)
PY_CONTENT_COL = "_lss_py_content"


def analyzed_deferred(df: DataFrame,
                      max_token_length: int = MAX_TOKEN_LENGTH,
                      content_col: str = "content",
                      tokens_col: str = "tokens",
                      with_sha: bool = True,
                      py_content_col: str = PY_CONTENT_COL) -> DataFrame:
    """ONE-projection analyze (drops ``content_col``): ASCII rows get
    ``tokens_col`` (lowered, position = index) and — when ``with_sha``
    — ``content_sha256``; rows needing the full-Unicode Python analyzer
    get NULL tokens and their content retained in ``py_content_col``
    for :func:`finish_python_rows`.

    The regex and the needs-py predicate each get their OWN Project so
    they are computed once per row (a filtered-union shape ran the
    regex 3x per row over 2 scans): Catalyst's CollapseProject refuses
    to merge a Project whose alias is a non-cheap expression referenced
    more than once downstream (a single-Project CASE shape measured
    ~1.4x MORE cpu — subexpression elimination does not cover
    interpreted higher-order exprs).

    CONTRACT: materialize the result (parquet spill, persist) before
    any filter touches it — Catalyst pushes predicates through Project
    aliases, which would re-derive the regex per filter.
    """
    content = F.coalesce(F.col(content_col), F.lit(""))
    raw_col, npy_col = f"_lss_raw_{tokens_col}", f"_lss_npy_{tokens_col}"
    # lowercase the DOCUMENT once, then extract: the ASCII word-break
    # grammar is case-symmetric, so extract(lower(doc)) ==
    # transform(extract(doc), lower) token-for-token — but allocates one
    # String per document instead of one per token, and skips the
    # per-element interpreted transform() entirely (non-ASCII rows never
    # use raw_col: needs_py routes them to the Python analyzer)
    step = df.withColumn(raw_col, F.regexp_extract_all(
        F.lower(content), F.lit(_A_WORD), F.lit(0)))
    step = step.withColumn(npy_col, _needs_python(
        content, F.col(raw_col), max_token_length))
    npy = F.col(npy_col)
    cols = {
        tokens_col: F.when(~npy, F.col(raw_col)),
        py_content_col: F.when(npy, F.col(content_col)),
    }
    if with_sha:
        cols["content_sha256"] = F.when(~npy, F.sha2(content, 256))
    return step.withColumns(cols).drop(content_col, raw_col, npy_col)


def analyzed_columns(df: DataFrame,
                     max_token_length: int = MAX_TOKEN_LENGTH,
                     content_col: str = "content",
                     stop_words=None,
                     tokens_col: str = "tokens",
                     with_sha: bool = True) -> DataFrame:
    """Add ``tokens_col`` (lowered, unfiltered, position = index) and —
    when ``with_sha`` — ``content_sha256`` (hex digest of the UTF-8
    content bytes, the per-row invariant vs the input) to ``df``, in
    one plan: :func:`analyzed_deferred` with the content kept, its
    deferred rows finished by :func:`finish_python_rows` in a
    ``mapInPandas``. The index builds consume the deferred form
    directly instead.

    ``stop_words`` is accepted for signature compatibility and ignored:
    stop filtering happens vectorized in the consuming builder.
    """
    src, py = f"_lss_src_{tokens_col}", f"_lss_py_{tokens_col}"
    deferred = analyzed_deferred(
        df.withColumn(src, F.col(content_col)), max_token_length,
        content_col=src, tokens_col=tokens_col, with_sha=with_sha,
        py_content_col=py)
    passes = [(tokens_col, py, with_sha)]
    return deferred.mapInPandas(
        lambda batches: (finish_python_rows(b, passes, max_token_length)
                         for b in batches),
        deferred.drop(py).schema)
