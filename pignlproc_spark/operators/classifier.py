"""Distributed quality-classifier training — "CCLogReg v1" frozen spec.

The fastText-style hashed bag-of-words linear classifier is the
standard web-corpus quality filter (CCNet, GPT-3/LLaMA data work: a
tiny linear model scores every page, the gate keeps the top mass).
This module trains one INSIDE the engine, distributed, and — unusually
— **bit-deterministically**, so the whole training loop is checkable
against a DuckDB oracle, not just "converges to something similar".

Determinism contract (what makes distributed GD hash-exact):

- model state is INTEGER: weights live at a fixed scale
  (``W_SCALE = 10^6``) as BIGINTs;
- every cross-row reduction is an integer sum (order-independent),
  never a float sum;
- per-row math uses IEEE doubles but ONLY correctly-rounded ops
  (+ − × ÷, compare, floor, clamp) — identical in Spark and DuckDB;
  no transcendentals: the link is the **hard sigmoid**
  σ̃(z) = clamp(0.5 + z/4, 0, 1), so there is no exp() to diverge in
  the last ulp between libms;
- the weight update floors back to integer scale:
  w ← w − floor((eta · g) / n).

Consequently the learned weights, per-doc scores, and predictions are
identical regardless of partitioning, core count, or engine — the
training run itself passes the driver's value-hash gate
(`docs_quality_classifier`), the same discipline that makes HITS
oracle-exact (stats.hits_q).

Scale shape (100 TB): the corpus is tokenized ONCE into a
(doc_id, bucket, cnt) feature table (explode → md5 feature-hash →
groupBy; the frozen ``textstats.hash_bucket`` spec), repartitioned by
doc_id at the session shuffle-partition count and PERSISTED (the cache
preserves the hash layout; a checkpoint would not). Each round is then

    broadcast-join the (dim+1)-row weight table onto the features
    → exchange-free per-doc integer dot (layout reused every round)
    → per-row hard-sigmoid error
    → one map-side-combined integer sum per bucket (dim+1 rows out)
    → relational weight update (left join, floor) — the DRIVER NEVER
      HOLDS the model; weights stay a DataFrame end to end.

int64 headroom: per-bucket gradient sums are bounded by
``n_rows·max_cnt·G_SCALE``; at 10¹² docs drop ``G_SCALE`` (the
contract is explicit, like hits_q's degree guard).

Reference parity: pignlproc has no trainer — "beyond the reference"
(COVERAGE.md), composing the engine's frozen tokenizer + hash-bucket
specs with the bounded-fixpoint discipline of the graph operators.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pignlproc_spark.functions.tokenize import tokens_col
from pignlproc_spark.operators.textstats import hash_bucket

W_SCALE = 1_000_000  # weights: BIGINT at 1e-6 resolution
G_SCALE = 1_000_000  # per-row gradient quantization (== W_SCALE so
# the update floor((eta·g)/n) needs no rescale — units cancel)

SPEC_VERSION = "CCLogReg v1"

#: bias pseudo-feature bucket (cnt=1 on every doc)
BIAS_BUCKET = -1


@dataclass(frozen=True)
class LogRegModel:
    """weights: (bucket BIGINT, w_q BIGINT) at W_SCALE, bucket −1 =
    bias; dim: feature-hash modulus; rounds/eta: training config."""

    weights: DataFrame
    dim: int
    rounds: int
    eta: float


def doc_features(
    df: DataFrame, dim: int = 64, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, bucket, cnt) hashed bag-of-words features + the bias
    pseudo-feature (bucket −1, cnt 1) for EVERY doc — token-empty docs
    still carry the bias row, so they score and train too."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("tok"),
    )
    feats = (
        toks.select("doc_id", hash_bucket(F.col("tok"), dim).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    bias = df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(BIAS_BUCKET).cast("bigint").alias("bucket"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    return feats.unionByName(bias)


def _p_hat(dot_q):
    """hard-sigmoid probability from the W_SCALE integer logit —
    0.5 + z/4 clamped to [0, 1]; division by the exact power-of-ten
    constant is one correctly-rounded IEEE op (cross-engine stable)."""
    z4 = dot_q.cast("double") / F.lit(float(4 * W_SCALE))
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(0.5) + z4))


def train_hashed_logreg(
    labeled: DataFrame,
    dim: int = 64,
    rounds: int = 3,
    eta: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "y",
    class_balance: bool = False,
) -> LogRegModel:
    """Full-batch gradient descent on the hard-sigmoid linear model,
    ``rounds`` rounds, bit-deterministic (module docstring).
    ``labeled`` must carry ``label_col`` ∈ {0, 1}.

    ``class_balance=True`` scales each row's error by n/(2·n_class) —
    the standard imbalance reweighting, needed when the positive class
    carries most of the token mass (a length-correlated majority class
    otherwise drags every weight its way and the model collapses to
    majority vote). The two factors are exact driver scalars from one
    count, so determinism is unchanged."""
    spark = labeled.sparkSession
    # repartition by doc_id at the session's shuffle partition count
    # and CACHE (persist preserves outputPartitioning through the
    # InMemoryRelation — localCheckpoint would degrade it to
    # UnknownPartitioning and re-shuffle the corpus every round,
    # verified in test_plans): each round's per-doc dot then runs as
    # InMemoryTableScan → broadcast join → partial/final agg with NO
    # new corpus Exchange
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    feats = (
        doc_features(labeled, dim, id_col, text_col)
        .repartition(n_shuffle, "doc_id")
        .persist()
    )
    feats.count()  # materialize once, before the rounds
    labels = labeled.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).cast("int").alias("y")
    )
    n = labels.count()
    if n == 0:
        raise ValueError("cannot train on an empty corpus")
    if class_balance:
        n1 = labels.where(F.col("y") == 1).count()
        if n1 == 0 or n1 == n:
            raise ValueError("class_balance needs both classes present")
        fac1, fac0 = float(n) / (2.0 * n1), float(n) / (2.0 * (n - n1))
    else:
        fac1 = fac0 = 1.0
    w = spark.range(-1, dim).select(
        F.col("id").cast("bigint").alias("bucket"), F.lit(0).cast("bigint").alias("w_q")
    )
    for _ in range(rounds):
        # exchange-free per-doc dot: broadcast join preserves the
        # doc_id layout, so the groupBy reuses it (no per-round shuffle)
        dot = (
            feats.join(F.broadcast(w), "bucket")
            .groupBy("doc_id")
            .agg(F.sum(F.col("cnt") * F.col("w_q")).cast("bigint").alias("dot_q"))
        )
        err = labels.join(dot, "doc_id").select(
            "doc_id",
            (
                (_p_hat(F.col("dot_q")) - F.col("y").cast("double"))
                * F.when(F.col("y") == 1, F.lit(fac1)).otherwise(F.lit(fac0))
            ).alias("err"),
        )
        grads = (
            feats.join(err, "doc_id")
            .select(
                "bucket",
                F.floor(F.col("err") * F.col("cnt").cast("double") * F.lit(float(G_SCALE)))
                .cast("bigint")
                .alias("g_q"),
            )
            .groupBy("bucket")
            .agg(F.sum("g_q").cast("bigint").alias("g"))
        )
        w = (
            w.join(grads, "bucket", "left")
            .select(
                "bucket",
                (
                    F.col("w_q")
                    - F.floor(
                        (F.lit(float(eta)) * F.coalesce(F.col("g"), F.lit(0)).cast("double"))
                        / F.lit(float(n))
                    ).cast("bigint")
                ).alias("w_q"),
            )
            .localCheckpoint(eager=True)
        )
    feats.unpersist()  # the final weights are eagerly checkpointed
    return LogRegModel(weights=w, dim=dim, rounds=rounds, eta=eta)


def score_docs(
    df: DataFrame,
    model: LogRegModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score_q, pred) — integer logit at W_SCALE and the
    decision threshold at 0 (σ̃ ≥ 0.5). One broadcast join; the corpus
    path is the same exchange-reusing shape as training."""
    feats = doc_features(df, model.dim, id_col, text_col)
    return (
        feats.join(F.broadcast(model.weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("w_q")).cast("bigint").alias("score_q"))
        .select(
            F.col("doc_id").cast("bigint").alias(id_col),
            "score_q",
            (F.col("score_q") > 0).cast("int").alias("pred"),
        )
    )


def train_reference(
    docs: list[tuple[int, list[str], int]],
    dim: int,
    rounds: int,
    eta: float,
    class_balance: bool = False,
) -> dict[int, int]:
    """Pure-Python CCLogReg v1 reference (NO Spark): same integer
    state, same flooring, same hard sigmoid — the independent second
    implementation for tests. ``docs`` = (doc_id, tokens, y).
    Returns {bucket: w_q}. Uses the same frozen md5 feature hash."""
    import hashlib

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % dim

    feats = []
    for doc_id, toks, y in docs:
        counts: dict[int, int] = {BIAS_BUCKET: 1}
        for t in toks:
            b = bucket(t)
            counts[b] = counts.get(b, 0) + 1
        feats.append((counts, y))
    n = len(docs)
    if class_balance:
        n1 = sum(y for _, y in feats)
        fac1, fac0 = float(n) / (2.0 * n1), float(n) / (2.0 * (n - n1))
    else:
        fac1 = fac0 = 1.0
    w = {b: 0 for b in range(-1, dim)}
    import math

    for _ in range(rounds):
        g = {b: 0 for b in w}
        for counts, y in feats:
            dot_q = sum(c * w[b] for b, c in counts.items())
            p = min(1.0, max(0.0, 0.5 + dot_q / (4.0 * W_SCALE)))
            err = (p - float(y)) * (fac1 if y == 1 else fac0)
            for b, c in counts.items():
                g[b] += math.floor(err * float(c) * float(G_SCALE))
        for b in w:
            w[b] -= math.floor((eta * float(g[b])) / float(n))
    return w
