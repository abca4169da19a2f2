"""DSIR-style importance weighting for target-driven data selection.

Data Selection with Importance Resampling (Xie et al., arXiv 2302.03169)
scores every raw-corpus document by how much more likely its n-gram bag is
under a (small, curated) target corpus than under the raw corpus itself,
then keeps the top-weighted documents. This module is that stage as a
reusable operator family:

- ``importance_weights``: row-preserving — every raw doc gets
  ``log w(doc) = sum_f c_f(doc) * [ln p_target(f) - ln p_raw(f)]`` over
  its unigram+bigram feature bag (add-alpha smoothed bag-of-features
  models, the paper's hashed-n-gram generative model with the hash made
  optional so an independent SQL engine can recompute it exactly).
- ``dsir_select``: the selection — top-k raw docs by weight (the paper's
  deterministic top-k variant; its Gumbel-noise variant is top-k over
  ``logw + gumbel``, which callers can add with a seeded hash if they
  need sampling rather than argmax).

Plan shape at 100 TB:

- Feature counting is ONE corpus shuffle with map-side partial aggregation
  (groupBy on the feature key); the target corpus is small by construction
  (a curated sample), so its model is cheap.
- With ``buckets`` set (the at-scale default — the paper uses hashed
  features for exactly this reason) the per-feature log-ratio table has at
  most ``buckets`` rows, so the scoring join is a BROADCAST: the raw
  corpus is scored with NO second shuffle. ``buckets=None`` keeps raw
  string features — the ratio table is vocabulary-sized; a probe of the
  (persisted) count table broadcasts it while it stays under
  ``_RATIO_BROADCAST_CAP`` features and otherwise shuffles BOTH sides on
  the feature key with the hash table built from the ratio side (the
  join choice is explicit: left to estimates, the planner was measured
  broadcasting the exploded CORPUS side — round 6).
- ``dsir_select``'s global top-k is TakeOrderedAndProject (per-partition
  heaps + a driver merge of k rows), never a full sort.

Tokenize goes through ``functions/text.ws_tokens`` (the repo-wide
contract); bigrams are per-occurrence joins of adjacent tokens. Bigrams
contain a space and tokens cannot, so the two feature namespaces never
collide in the un-hashed path.

The reference (volare-all/open-data-linter) has no data-selection ops;
this extends the engine per the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.functions.text import adjacent_pairs, ws_tokens


# unhashed-path broadcast cap for the per-feature log-ratio table
# (~50-100MB at 1M string features — comfortably under the session's
# executor memory; beyond it the scoring join shuffles on f instead)
_RATIO_BROADCAST_CAP = 1 << 20


def ngram_bag(c: Column) -> Column:
    """Unigram+bigram feature bag (per occurrence, order irrelevant).

    ``array<string>``: every token, then every adjacent token pair joined
    with one space (via the shared ``functions/text.adjacent_pairs``
    contract). Empty/NULL text yields ``[]``; a 1-token doc yields just
    its unigram (no whole-doc fallback — DSIR features are a bag, not a
    shingle cover, so there is nothing to pad)."""
    toks = ws_tokens(c)
    bigrams = F.transform(
        adjacent_pairs(toks), lambda p: F.concat_ws(" ", p["w1"], p["w2"])
    )
    return F.concat(toks, bigrams)


def _feature_key(buckets: int | None, seed: int) -> Column:
    f = F.col("f")
    if buckets is None:
        return f
    return F.pmod(F.xxhash64(f, F.lit(seed)), F.lit(buckets))


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    buckets: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Per-raw-doc DSIR log importance weight: (id_col, n_feats, logw).

    Row-preserving over ``raw``'s ids: a doc with an empty feature bag
    (NULL/empty/whitespace-only text) carries NULL ``n_feats``/``logw`` —
    no evidence either way; filter or keep downstream. ``logw`` is
    rounded to 6 decimals so the per-doc sum is independent of partition
    order (same contract as functions/lm.py).

    Smoothing: add-``alpha`` over a shared feature space of size V =
    |features seen in raw or target| (or ``buckets`` when hashing), so
    features unseen in the target still get finite log-ratios.

    Not lazy: the call itself runs a Spark action. It collects the
    model scalars T_raw, T_tgt and V (filling the persisted bagged
    corpus and count table), and the returned frame carries them as
    literals. They are frozen at call time, so the result is only
    consistent when ``raw`` and ``target`` are deterministic.
    """
    if alpha <= 0.0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if buckets is not None and buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")

    # spread + pin the bagged corpus: a single-file scan is ONE partition
    # (the tokenize+bag projection would serialize on one core), and the
    # raw bag feeds TWO consumers (feature counts + the scoring join) —
    # without the pin the corpus is re-tokenized per consumer. The pinned
    # frame is (id, bag) — narrow; the explode stays lazy per consumer.
    from open_data_linter_spark.dedup._cache import persist_scoped, spread_and_pin

    raw_b = spread_and_pin(
        f"dsir:raw:{id_col}",
        raw.select(
            F.col(id_col).alias("__id"),
            ngram_bag(F.col(text_col)).alias("bag"),
        ),
    )
    raw_f = raw_b.select("__id", F.explode("bag").alias("f")).withColumn(
        "f", _feature_key(buckets, seed)
    )
    tgt_f = target.select(
        F.explode(ngram_bag(F.col(text_col))).alias("f")
    ).withColumn("f", _feature_key(buckets, seed))

    rawc = raw_f.groupBy("f").agg(F.count("*").alias("c_raw"))
    tgtc = tgt_f.groupBy("f").agg(F.count("*").alias("c_tgt"))
    # u feeds scalars + the ratio projection — pin the vocabulary-sized
    # count table so the two count shuffles run once
    u = persist_scoped(
        "dsir:u",
        rawc.join(tgtc, "f", "full").select(
            "f",
            F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
            F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"),
        ),
    )
    # Round 6: the model scalars are ONE row over the persisted count
    # table — collect them (the repo's allowed single-agg-row pattern)
    # and inline them as literals. The former crossJoin(broadcast(
    # scalars)) route inflated the ratio table's size estimate through
    # the full-outer + cross joins so badly that the planner BROADCAST
    # THE EXPLODED CORPUS side of the scoring join instead (~5M feature
    # rows / ~150MB built single-threaded at sf1.0, and corpus-sized at
    # 100 TB — the exact inverse of the intended shape). The literals
    # produce bit-identical doubles (same cast, same arithmetic), and V
    # doubles as the vocabulary probe for the deliberate join choice
    # below (guide §3.1).
    srow = u.agg(
        F.sum("c_raw").alias("T_raw"),
        F.sum("c_tgt").alias("T_tgt"),
        F.count("*").alias("V"),
    ).collect()[0]
    n_vocab = int(srow["V"])
    t_raw = F.lit(float(srow["T_raw"] or 0)).cast("double")
    t_tgt = F.lit(float(srow["T_tgt"] or 0)).cast("double")
    v = F.lit(float(buckets) if buckets is not None else float(n_vocab))
    a = F.lit(float(alpha))
    ratio = u.select(
        "f",
        (
            F.log((F.col("c_tgt").cast("double") + a) / (t_tgt + a * v))
            - F.log((F.col("c_raw").cast("double") + a) / (t_raw + a * v))
        ).alias("lr"),
    )
    if buckets is not None or n_vocab <= _RATIO_BROADCAST_CAP:
        # bounded ratio table (hashed buckets, or a probed small
        # vocabulary): broadcast it — the corpus side keeps its
        # partitioning and the per-doc aggregation gets map-side combine
        ratio = F.broadcast(ratio)
    else:
        # unbounded vocabulary: shuffle BOTH sides on f, building the
        # hash table from the ratio side — never the corpus
        ratio = ratio.hint("shuffle_hash")
    scored = (
        raw_f.join(ratio, "f")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("lr"), 6).alias("logw"),
        )
    )
    return (
        raw.select(F.col(id_col))
        .join(scored, F.col(id_col) == F.col("__id"), "left")
        .drop("__id")
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    buckets: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Top-``k`` raw docs by DSIR weight: (id_col, n_feats, logw).

    Deterministic: ties break on ``id_col`` ascending; empty-bag docs
    (NULL weight) are never selected. Executes as a distributed top-k
    (TakeOrderedAndProject), not a global sort."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = importance_weights(
        raw, target, text_col, id_col, alpha=alpha, buckets=buckets, seed=seed
    )
    return (
        w.where(F.col("logw").isNotNull())
        .orderBy(F.desc("logw"), F.col(id_col))
        .limit(k)
    )
