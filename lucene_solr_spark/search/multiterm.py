"""Multi-term query expansion (term-set expansion by pattern).

Lucene rewrites PrefixQuery / WildcardQuery / RegexpQuery / FuzzyQuery /
TermRangeQuery into primitive term queries by walking the term
dictionary with an automaton (search/MultiTermQuery.java:94-126;
default rewrite CONSTANT_SCORE_REWRITE at :68). Our term dictionary is
the `dict` table; expansion = a filtered dict scan (Spark-side cheap
predicate + exact Python refinement), then the expanded terms rewrite
to either a constant-score filter or a scoring boolean —
CONSTANT_SCORE_REWRITE vs SCORING_BOOLEAN_REWRITE
(MultiTermQuery.java:94-126).

Fuzzy matching follows FuzzyQuery defaults: maxEdits=2, prefixLength=0,
transpositions=true (FuzzyQuery.java:60-78) — transpositions as a
primitive edit = optimal-string-alignment distance (the automaton of
util/automaton/LevenshteinAutomata.java with transpositions). The
Spark-side prefilter uses the builtin `levenshtein` (classic distance);
classic >= OSA always, and one transposition costs <= 2 classic edits,
so `classic <= 2*maxEdits` admits every OSA match (refined exactly in
Python on the small candidate set).
"""

from __future__ import annotations

import re

import numpy as np


def wildcard_to_regex(pattern: str) -> str:
    """Lucene WildcardQuery syntax: `*` any sequence, `?` single char,
    `\\` escapes (search/WildcardQuery.java:35-43) → anchored Python/
    Spark-compatible regex."""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)


_JAVA_DIVERGENT_RE = re.compile(
    # constructs whose semantics (or validity) differ between Python re
    # and Java regex: alphanumeric escapes (\d \w \s \b \A \Z unicode
    # breadth / dialect; \1 backrefs fine but rare — blacklist anyway),
    # any (?...) group that is not plain (?:, possessive quantifiers.
    r"\\[A-Za-z0-9]"
    r"|\(\?[^:]"
    r"|[+*?}]\+"
)


def java_safe_regex(pattern: str) -> bool:
    """True when `pattern` is restricted to the regex subset that
    Python re and Java (Spark rlike) evaluate identically — literals,
    char classes, ., anchors, |, (?:...), greedy/lazy quantifiers.
    Used to gate the dictionary-scan pushdown: an unsafe pattern must
    NOT prune candidates JVM-side, or terms the exact Python refinement
    would accept silently disappear (RegexpQuery correctness)."""
    return _JAVA_DIVERGENT_RE.search(pattern) is None


def dict_prefilter(q, col):
    """The coarse Spark predicate over a dictionary's bare-term column
    ``col`` that admits every term :func:`expand_terms` accepts for
    ``q`` — the dictionary-scan pushdown of both engines; expand_terms
    then refines the scanned candidates exactly. Wildcard and regexp
    patterns push down as ``rlike`` only when :func:`java_safe_regex`;
    otherwise the scan is unpruned."""
    from pyspark.sql import functions as F

    from .queries import (
        FuzzyQuery, PrefixQuery, RegexpQuery, TermInSetQuery,
        TermRangeQuery, WildcardQuery,
    )

    if isinstance(q, PrefixQuery):
        return col.startswith(q.prefix)
    if isinstance(q, (WildcardQuery, RegexpQuery)):
        rx = (wildcard_to_regex(q.pattern) if isinstance(q, WildcardQuery)
              else q.pattern)
        if not java_safe_regex(rx):
            return F.lit(True)
        return col.rlike("^(?s)(?:" + rx + ")$")
    if isinstance(q, FuzzyQuery):
        # classic levenshtein >= OSA; one transposition <= 2 classic
        # edits, so this admits every OSA match
        pred = F.levenshtein(col, F.lit(q.term)) <= 2 * q.max_edits
        if q.prefix_length:
            pred = pred & col.startswith(q.term[: q.prefix_length])
        return pred
    if isinstance(q, TermRangeQuery):
        pred = F.lit(True)
        if q.lower is not None:
            pred = pred & (col >= q.lower if q.include_lower
                           else col > q.lower)
        if q.upper is not None:
            pred = pred & (col <= q.upper if q.include_upper
                           else col < q.upper)
        return pred
    if isinstance(q, TermInSetQuery):
        return col.isin(list(q.terms))
    raise TypeError(f"unknown multi-term query {type(q)}")


def osa_distance(a: str, b: str, cap: int | None = None) -> int:
    """Optimal-string-alignment distance (Levenshtein + adjacent
    transposition as one edit) — FuzzyQuery's transpositions=true
    metric. numpy DP; `cap` allows early bail when a row min exceeds it."""
    la, lb = len(a), len(b)
    if abs(la - lb) > (cap if cap is not None else max(la, lb)):
        return abs(la - lb)
    prev2 = None
    prev = np.arange(lb + 1)
    aa = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
    bb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    for i in range(1, la + 1):
        cur = np.empty(lb + 1, dtype=np.int64)
        cur[0] = i
        sub = prev[:-1] + (aa[i - 1] != bb)
        for j in range(1, lb + 1):
            v = min(cur[j - 1] + 1, prev[j] + 1, sub[j - 1])
            if (i > 1 and j > 1 and aa[i - 1] == bb[j - 2]
                    and aa[i - 2] == bb[j - 1]):
                v = min(v, prev2[j - 2] + 1)
            cur[j] = v
        if cap is not None and cur.min() > cap:
            return cap + 1
        prev2, prev = prev, cur
    return int(prev[lb])


def fuzzy_match(candidate: str, target: str, max_edits: int,
                prefix_length: int, transpositions: bool = True) -> bool:
    """FuzzyQuery term acceptance (FuzzyQuery.java:60-78 semantics:
    shared prefix required verbatim, distance on the remainder)."""
    if prefix_length:
        if candidate[:prefix_length] != target[:prefix_length]:
            return False
        candidate = candidate[prefix_length:]
        target = target[prefix_length:]
    if candidate == target:
        return True
    if transpositions:
        return osa_distance(candidate, target, cap=max_edits) <= max_edits
    # classic levenshtein via OSA with transpositions disabled
    la, lb = len(candidate), len(target)
    if abs(la - lb) > max_edits:
        return False
    prev = np.arange(lb + 1)
    for i in range(1, la + 1):
        cur = np.empty(lb + 1, dtype=np.int64)
        cur[0] = i
        sub = prev[:-1] + np.array([candidate[i - 1] != target[j] for j in range(lb)])
        for j in range(1, lb + 1):
            cur[j] = min(cur[j - 1] + 1, prev[j] + 1, sub[j - 1])
        if cur.min() > max_edits:
            return False
        prev = cur
    return int(prev[lb]) <= max_edits


def expand_terms(vocabulary, q) -> list[str]:
    """Expand a multi-term query over an iterable vocabulary (used by
    the oracle and by the Spark planner's refinement step). Returns
    sorted matching terms (the dictionary is term-sorted, so Lucene's
    TermsEnum also yields them in order)."""
    from .queries import (
        FuzzyQuery, PrefixQuery, RegexpQuery, TermInSetQuery,
        TermRangeQuery, WildcardQuery,
    )

    if isinstance(q, PrefixQuery):
        return sorted(t for t in vocabulary if t.startswith(q.prefix))
    if isinstance(q, WildcardQuery):
        rx = re.compile(wildcard_to_regex(q.pattern))
        return sorted(t for t in vocabulary if rx.fullmatch(t))
    if isinstance(q, RegexpQuery):
        rx = re.compile(q.pattern)
        return sorted(t for t in vocabulary if rx.fullmatch(t))
    if isinstance(q, FuzzyQuery):
        return sorted(
            t for t in vocabulary
            if fuzzy_match(t, q.term, q.max_edits, q.prefix_length,
                           q.transpositions)
        )
    if isinstance(q, TermRangeQuery):
        def ok(t):
            if q.lower is not None:
                if t < q.lower or (t == q.lower and not q.include_lower):
                    return False
            if q.upper is not None:
                if t > q.upper or (t == q.upper and not q.include_upper):
                    return False
            return True
        return sorted(t for t in vocabulary if ok(t))
    if isinstance(q, TermInSetQuery):
        vocab = set(vocabulary)
        return sorted(t for t in q.terms if t in vocab)
    raise TypeError(f"not a multi-term query: {type(q)}")
