"""ML streaming expressions: featuresSelection (IGain) + textLogit.

References:
- ``solr/core/src/java/org/apache/solr/search/IGainTermsQParserPlugin
  .java:144-208`` — per-term information gain over a labeled doc set:
  ``score = H(P(+)) − (df/N)·H(xc/df) − (1 − df/N)·H((P − xc)/(N − df
  + 1))`` with natural-log binary entropy H (0 at p ∈ {0, 1}), xc =
  positive docs containing the term, df = xc + nc within the set.
- ``solr/solrj/.../io/stream/FeaturesSelectionStream.java:335-375`` —
  merges shard scores and emits ``idf_d = ln(N / (df + 1))`` per kept
  term (consumed by textLogit as the feature scale).
- ``solr/core/.../search/TextLogisticRegressionQParserPlugin
  .java:168-236`` + ``io/stream/TextLogitStream.java`` — logistic
  regression over term-frequency features ``x_j = idf_j · (1 +
  ln(tf_j))`` with a bias x_0 = 1; only docs containing at least one
  feature term are trained on (docVectors is built from the feature
  terms' postings, :175-193); per iteration the error/evaluation are
  measured against the iteration's STARTING weights (:203-205) and the
  weights move by ``w −= α·(sigmoid(w·x) − y)·x``.

DEPARTURE (documented): the reference updates weights sequentially
per-doc inside a shard (HashMap iteration order, :195-212) and lets
TextLogitStream average the resulting per-shard weights — an
order-dependent stochastic pass. Here one iteration = one FULL-BATCH
gradient step (error measured at the starting weights for every doc,
one aggregated update), the deterministic, partition-count-invariant
equivalent of that shard-averaging scheme: same fixed point, identical
evaluation metrics, and exactly one narrow aggregate per iteration at
any scale. The weight trajectories differ from a sequential SGD pass
by design.

Everything is expression-level Spark: feature vectors are k conditional
aggregates over the token table (no pivot, no UDF), each training
iteration is ONE agg returning k+6 numbers to the driver.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..relational.suite import _TOK_SQL, _tokens, load_table, register


def _binary_entropy(p):
    """binaryEntropy (IGainTermsQParserPlugin.java:203-206): 0 at the
    endpoints, else −p·ln p − (1−p)·ln(1−p)."""
    return F.when((p <= 0.0) | (p >= 1.0), F.lit(0.0)).otherwise(
        -p * F.log(p) - (1.0 - p) * F.log(1.0 - p))


def features_selection(
    tokens: DataFrame,   # (doc_id, term) one row per occurrence
    labels: DataFrame,   # (doc_id, outcome) 1/0
    num_terms: int,
) -> DataFrame:
    """IGain term ranking: (term, score_f, docfreq, idf_d), top
    ``num_terms`` by (rounded score desc, term asc). The per-term
    (xc, nc) contingency is one groupBy over the DISTINCT doc-term
    pairs joined to labels; N and P ride along via a broadcast scalar
    cross join — two exchanges total regardless of vocabulary size."""
    totals = labels.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("outcome").cast("double").alias("n_pos"))
    per_term = (
        tokens.select("doc_id", "term").distinct()
        .join(labels, "doc_id")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"),
             F.sum("outcome").cast("double").alias("xc"))
        .crossJoin(F.broadcast(totals))
    )
    p_c = F.col("n_pos") / F.col("n_docs")
    h_contains = _binary_entropy(F.col("xc") / F.col("df"))
    h_not = _binary_entropy(
        (F.col("n_pos") - F.col("xc"))
        / (F.col("n_docs") - F.col("df") + 1.0))
    score = (_binary_entropy(p_c)
             - ((F.col("df") / F.col("n_docs")) * h_contains
                + (1.0 - F.col("df") / F.col("n_docs")) * h_not))
    scored = per_term.select(
        "term",
        F.round(score, 6).alias("score_f"),
        F.col("df").cast("long").alias("docfreq"),
        F.round(F.log(F.col("n_docs") / (F.col("df") + 1.0)), 6)
        .alias("idf_d"),
    )
    # global top-k first (TakeOrderedAndProject — no full vocab sort),
    # then rank the tiny survivor set
    top = scored.orderBy(F.col("score_f").desc(),
                         F.col("term").asc()).limit(num_terms)
    w = F.row_number().over(
        Window.orderBy(F.col("score_f").desc(), F.col("term").asc()))
    return top.withColumn("rank", w).select(
        "rank", "term", "score_f", "docfreq", "idf_d")


def text_logit(
    tokens: DataFrame,   # (doc_id, term) one row per occurrence
    labels: DataFrame,   # (doc_id, outcome) 1/0
    terms: tuple[str, ...],
    iterations: int = 10,
    alpha: float = 0.01,
    threshold: float = 0.5,
) -> list[dict]:
    """Train logistic regression; returns one record per iteration:
    ``{"iteration", "weights" [w0..wk], "error", "tp", "fp", "tn",
    "fn"}`` — the TextLogitStream tuple fields. Weights start at 0
    (TextLogitStream.java: initial weights default). idf_j =
    ln(N/(df_j+1)) over the FULL labeled set, x_j = idf_j·(1+ln tf_j).
    """
    k = len(terms)
    n_docs = labels.count()
    tf = (tokens.where(F.col("term").isin(list(terms)))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dfs = {r["term"]: r["df"] for r in
           tf.groupBy("term").agg(F.count("*").alias("df")).collect()}
    idfs = [math.log(n_docs / (dfs.get(t, 0) + 1.0)) for t in terms]
    # one row per participating doc (has >= 1 feature term), with the
    # k features folded to columns via conditional aggregation
    feats = (
        tf.groupBy("doc_id")
        .agg(*[
            F.coalesce(
                F.sum(F.when(F.col("term") == t,
                             idfs[j] * (1.0 + F.log(F.col("tf"))))),
                F.lit(0.0)).alias(f"x{j}")
            for j, t in enumerate(terms)])
        .join(labels, "doc_id")
        .select(*[f"x{j}" for j in range(k)],
                F.col("outcome").cast("double").alias("y"))
    )
    feats = feats.persist()
    feats.count()
    weights = [0.0] * (k + 1)  # [bias, w1..wk]
    out = []
    try:
        for it in range(1, iterations + 1):
            z = F.lit(weights[0])
            for j in range(k):
                z = z + F.lit(weights[j + 1]) * F.col(f"x{j}")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = p - F.col("y")
            pred = (p >= threshold).cast("int")
            row = feats.agg(
                F.sum(err).alias("g0"),
                *[F.sum(err * F.col(f"x{j}")).alias(f"g{j + 1}")
                  for j in range(k)],
                F.sum(F.abs(err)).alias("total_error"),
                F.sum(((F.col("y") == 1) & (pred == 1)).cast("long"))
                .alias("tp"),
                F.sum(((F.col("y") == 0) & (pred == 1)).cast("long"))
                .alias("fp"),
                F.sum(((F.col("y") == 0) & (pred == 0)).cast("long"))
                .alias("tn"),
                F.sum(((F.col("y") == 1) & (pred == 0)).cast("long"))
                .alias("fn"),
            ).collect()[0]
            grads = [float(row[f"g{i}"]) for i in range(k + 1)]
            weights = [w - alpha * g for w, g in zip(weights, grads)]
            out.append({
                "iteration": it,
                "weights": list(weights),
                "error": float(row["total_error"]),
                "tp": int(row["tp"]), "fp": int(row["fp"]),
                "tn": int(row["tn"]), "fn": int(row["fn"]),
            })
    finally:
        feats.unpersist()
    return out


# ---------------------------------------------------------------------------
# Driver rows over the documents table: outcome = (lang = 'en').
# ---------------------------------------------------------------------------

_IGAIN_K = 15

_IGAIN_ORACLE = f"""
WITH tok AS ({_TOK_SQL}),
lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS outcome
        FROM documents),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               CAST(sum(outcome) AS DOUBLE) AS n_pos FROM lab),
dt AS (SELECT DISTINCT doc_id, term FROM tok),
ct AS (SELECT term, CAST(count(*) AS DOUBLE) AS df,
              CAST(sum(outcome) AS DOUBLE) AS xc
       FROM dt JOIN lab USING (doc_id) GROUP BY term),
sc AS (SELECT term, df,
  (CASE WHEN n_pos/n_docs <= 0 OR n_pos/n_docs >= 1 THEN 0
        ELSE -(n_pos/n_docs)*ln(n_pos/n_docs)
             -(1-n_pos/n_docs)*ln(1-n_pos/n_docs) END)
  - ( (df/n_docs) *
      (CASE WHEN xc/df <= 0 OR xc/df >= 1 THEN 0
            ELSE -(xc/df)*ln(xc/df)-(1-xc/df)*ln(1-xc/df) END)
    + (1 - df/n_docs) *
      (CASE WHEN (n_pos-xc)/(n_docs-df+1) <= 0
              OR (n_pos-xc)/(n_docs-df+1) >= 1 THEN 0
            ELSE -((n_pos-xc)/(n_docs-df+1))*ln((n_pos-xc)/(n_docs-df+1))
                 -(1-(n_pos-xc)/(n_docs-df+1))
                  *ln(1-(n_pos-xc)/(n_docs-df+1)) END) ) AS raw,
  ln(n_docs / (df + 1.0)) AS idf
  FROM ct, tot),
rk AS (SELECT round(raw, 6) AS score_f, term,
              CAST(df AS BIGINT) AS docfreq, round(idf, 6) AS idf_d,
              row_number() OVER (ORDER BY round(raw, 6) DESC, term ASC)
              AS rank
       FROM sc)
SELECT rank, term, score_f, docfreq, idf_d FROM rk
WHERE rank <= {_IGAIN_K} ORDER BY rank
"""


@register("features_igain", _IGAIN_ORACLE)
def features_igain_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """featuresSelection(): IGain-ranked discriminative terms for the
    outcome lang='en' (IGainTermsQParserPlugin.java scoring +
    FeaturesSelectionStream idf_d)."""
    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("outcome"))
    return features_selection(_tokens(spark, sf_dir), labels, _IGAIN_K)


_TLOGIT_TERMS = ("spark", "data", "query", "window")
_TLOGIT_ITERS = 3
_TLOGIT_ALPHA = 0.01


def _tlogit_oracle_sql() -> str:
    """Unrolled 3-iteration batch-GD oracle in pure SQL: each iteration
    is a CTE computing the aggregated gradient from the previous
    weights — the same math the Spark loop runs, independently
    derived in SQL."""
    k = len(_TLOGIT_TERMS)
    terms_in = ", ".join(f"'{t}'" for t in _TLOGIT_TERMS)
    xcols = ", ".join(
        f"coalesce(sum(CASE WHEN term = '{t}' THEN idf{j} * "
        f"(1.0 + ln(tf)) END), 0.0) AS x{j}"
        for j, t in enumerate(_TLOGIT_TERMS))
    idf_defs = ", ".join(
        f"ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) /"
        f" ((SELECT CAST(count(*) AS DOUBLE) FROM tfp WHERE"
        f" term = '{t}') + 1.0)) AS idf{j}"
        for j, t in enumerate(_TLOGIT_TERMS))
    # MATERIALIZED: the unrolled iterations reference fx / i{n} many
    # times; without it DuckDB inlines the CTE per reference and
    # re-opens the parquet each time (fd exhaustion at 3 iterations).
    sql = [f"""
WITH tok AS MATERIALIZED ({_TOK_SQL}),
tfq AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ({terms_in}) GROUP BY doc_id, term),
tfp AS MATERIALIZED (SELECT * FROM tfq),
idf AS MATERIALIZED (SELECT {idf_defs}),
lab AS MATERIALIZED (SELECT doc_id,
        CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
v AS (SELECT doc_id, {xcols} FROM tfq, idf GROUP BY doc_id,
      {", ".join(f"idf{j}" for j in range(k))}),
fx AS MATERIALIZED (SELECT v.*, lab.y FROM v JOIN lab USING (doc_id))"""]
    w = [f"0.0"] * (k + 1)
    rows = []
    for it in range(1, _TLOGIT_ITERS + 1):
        zi = " + ".join([w[0]] + [f"({w[j + 1]}) * x{j}"
                                  for j in range(k)])
        sql.append(f""",
i{it} AS MATERIALIZED (SELECT sum(1.0/(1.0+exp(-({zi}))) - y) AS g0,
  {", ".join(f"sum((1.0/(1.0+exp(-({zi}))) - y) * x{j}) AS g{j + 1}"
             for j in range(k))},
  sum(abs(1.0/(1.0+exp(-({zi}))) - y)) AS total_error,
  CAST(sum(CASE WHEN y = 1 AND 1.0/(1.0+exp(-({zi}))) >= 0.5 THEN 1
      ELSE 0 END) AS BIGINT) AS tp,
  CAST(sum(CASE WHEN y = 0 AND 1.0/(1.0+exp(-({zi}))) >= 0.5 THEN 1
      ELSE 0 END) AS BIGINT) AS fp,
  CAST(sum(CASE WHEN y = 0 AND 1.0/(1.0+exp(-({zi}))) < 0.5 THEN 1
      ELSE 0 END) AS BIGINT) AS tn,
  CAST(sum(CASE WHEN y = 1 AND 1.0/(1.0+exp(-({zi}))) < 0.5 THEN 1
      ELSE 0 END) AS BIGINT) AS fn
  FROM fx)""")
        neww = [f"(({w[i]}) - {_TLOGIT_ALPHA} * (SELECT g{i} FROM i{it}))"
                for i in range(k + 1)]
        # Double-round (9 then 6 decimals): a float64 sum's partition-
        # order noise (~1e-13 relative) can flip round(x, 6) when x sits
        # within noise of a 0.5e-6 boundary. Rounding at 9 decimals
        # first collapses cross-engine noise well below the 6-decimal
        # cut; both the Spark entry (F.round) and DuckDB round half
        # away from zero, so the two sides share one tie rule.
        rows.append(
            f"SELECT {it} AS iteration, "
            + ", ".join(f"round(round({neww[i]}, 9), 6) AS w{i}"
                        for i in range(k + 1))
            + f", round(round((SELECT total_error FROM i{it}), 9), 6)"
            " AS error"
            + ", ".join([""] + [f"(SELECT {c} FROM i{it}) AS {c}"
                                for c in ("tp", "fp", "tn", "fn")]))
        w = neww
    return "\n".join(sql) + "\n" + "\nUNION ALL\n".join(rows) \
        + "\nORDER BY iteration"


@register("text_logit_train", _tlogit_oracle_sql())
def text_logit_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """textLogit(): 3 batch-GD iterations predicting lang='en' from
    4 term features; one row per iteration with weights + error +
    confusion counts."""
    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("outcome"))
    recs = text_logit(_tokens(spark, sf_dir), labels, _TLOGIT_TERMS,
                      iterations=_TLOGIT_ITERS, alpha=_TLOGIT_ALPHA)
    return _emit_logit_rows(spark, recs, len(_TLOGIT_TERMS))


def _emit_logit_rows(spark: SparkSession, recs: list[dict],
                     k: int) -> DataFrame:
    """Render textLogit training records as the driver-row DataFrame.

    Double-rounds (9 then 6 decimals) with Spark's SQL round — half
    away from zero, the same tie rule DuckDB uses; Python's round()
    is banker's and must NOT be used here. See _tlogit_oracle_sql for
    the rounding rationale.
    """
    rows = [
        tuple([r["iteration"]]
              + [float(wv) for wv in r["weights"]]
              + [float(r["error"]), r["tp"], r["fp"], r["tn"],
                 r["fn"]])
        for r in recs]
    schema = ("iteration int, "
              + ", ".join(f"w{i} double" for i in range(k + 1))
              + ", error double, tp long, fp long, tn long, fn long")
    dbl = [F.round(F.round(F.col(c), 9), 6).alias(c)
           for c in ([f"w{i}" for i in range(k + 1)] + ["error"])]
    return (spark.createDataFrame(rows, schema)
            .select("iteration", *dbl, "tp", "fp", "tn", "fn")
            .orderBy("iteration"))
