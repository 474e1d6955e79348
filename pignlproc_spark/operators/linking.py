"""Mention → entity candidate scoring with broadcast dictionaries.

Reference parity: pignlproc itself only *produces* the statistics
(pairCounts / sfAndTotalCounts) that DBpedia Spotlight turns into a
linker; BASELINE.json:6 asks this engine to also run the scoring step:
"batched mention detection and entity-link scoring using broadcast
surface-form→URI dictionaries with link-probability statistics
(anchor count / occurrence count)".

Semantics (frozen):

- ``link_probability(sf) = anchor_count / occurrence_count`` from the
  ``surface_forms`` dimension (occurrence_count ≥ anchor_count ≥ 0 by
  construction; -1 sentinels never reach this table).
- candidate ranking per surface form: by ``anchor_count`` desc (the
  P(uri|sf) numerator), tie-broken by uri asc — per-group top-k via a
  window (SURVEY.md §2.2 P15 / J13 FirstNtuples).
- mention scoring: broadcast-join mentions to candidates (P11
  'replicated' join), score = candidate anchor share — the P(uri|sf)
  estimate alone; :func:`link_probability` supplies P(link|sf) as a
  separate column for consumers that want the product (the two factors
  are kept apart so annotation-confidence thresholds can tune them
  independently, as DBpedia Spotlight does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: unit separator — joins mention key columns into one hashable id
US = "\u001f"


def mention_id_col(url="url", context="context", surface_form="surface_form"):
    """The FROZEN mention identity: md5 over coalesced-to-'' key
    columns joined by US. Single definition — disambiguate, the
    accuracy evaluation, and tests must all hash byte-identically or
    their joins silently go empty."""
    cols = [
        F.coalesce(F.col(c) if isinstance(c, str) else c, F.lit(""))
        for c in (url, context, surface_form)
    ]
    return F.md5(F.concat_ws(US, *cols))


def candidate_topk(surface_forms: DataFrame, k: int = 3) -> DataFrame:
    """(surface_form, uri, anchor_count, occurrence_count, rank) — the
    k most-linked entities per surface form."""
    w = Window.partitionBy("surface_form").orderBy(F.desc("anchor_count"), F.asc("uri"))
    return (
        surface_forms.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("surface_form", "uri", "anchor_count", "occurrence_count", "rank")
    )


def link_probability(surface_forms: DataFrame) -> DataFrame:
    """(surface_form, anchor_total, occurrence_total, link_prob) — how
    often a surface form is a link when it appears at all."""
    agg = surface_forms.groupBy("surface_form").agg(
        F.sum("anchor_count").alias("anchor_total"),
        F.max("occurrence_count").alias("occurrence_total"),
    )
    return agg.withColumn(
        "link_prob",
        F.when(F.col("occurrence_total") > 0, F.col("anchor_total") / F.col("occurrence_total")).otherwise(
            F.lit(0.0)
        ),
    )


def score_mentions(mentions: DataFrame, surface_forms: DataFrame, k: int = 3) -> DataFrame:
    """mentions(url, surface_form, ...) × broadcast candidate dict →
    (url, surface_form, candidate_uri, score, rank).

    score = anchor_count / sum(anchor_count over the sf's candidates):
    the P(uri|sf) estimate the reference's pairCounts exist to supply.
    The dict side is broadcast — the (huge) mention side never
    shuffles. AQE skew-join covers the residual case where the dict
    outgrows the broadcast threshold on a real cluster.
    """
    cands = candidate_topk(surface_forms, k)
    sf_tot = cands.groupBy("surface_form").agg(F.sum("anchor_count").alias("_sf_anchor_total"))
    dim = F.broadcast(
        cands.join(sf_tot, "surface_form").select(
            F.col("surface_form").alias("_sf"),
            F.col("uri").alias("candidate_uri"),
            "anchor_count",
            "_sf_anchor_total",
            "rank",
        )
    )
    return (
        mentions.join(dim, mentions["surface_form"] == dim["_sf"], "inner")
        .withColumn(
            "score",
            F.when(F.col("_sf_anchor_total") > 0, F.col("anchor_count") / F.col("_sf_anchor_total")).otherwise(
                F.lit(0.0)
            ),
        )
        .drop("_sf", "anchor_count", "_sf_anchor_total")
    )


def disambiguate(
    mentions: DataFrame,
    pair_counts: DataFrame,
    token_counts: DataFrame,
    k: int = 3,
    lang: str = "en",
) -> DataFrame:
    """Full Spotlight-style candidate ranking: P(uri|sf) prior ×
    context-token evidence, per mention occurrence.

    The reference (names_and_entities.pig + token_counts.pig) produces
    exactly the two statistics this consumes — ``pairCounts`` and the
    per-entity ``tokenCounts`` profile; DBpedia Spotlight then ranks
    candidates by mixing the anchor prior with context similarity.
    This operator runs that ranking step in-engine.

    Spec (FROZEN, integer-exact so the DuckDB oracle can hash it):

    - mention unit: distinct ``(url, context, surface_form)``;
      ``mention_id = md5(url ∥ US ∥ context ∥ US ∥ surface_form)``.
    - candidates: every uri paired with the surface form in
      ``pair_counts``; ``prior_cnt`` = its pair count (the P(uri|sf)
      numerator — same denominator per group, so rank-equivalent).
    - ``overlap_cnt`` = Σ over the mention's DISTINCT context tokens
      (frozen tokenizer + per-``lang`` stoplist, identical to the
      ``token_counts`` build) of the candidate's token count — a
      naive-Bayes-style evidence term with integer weights (no float
      sums; CLAUDE.md oracle rules). Kept as a raw diagnostic column.
    - token discrimination weight: ``w(t) = 10⁶ DIV uf(t)²`` where
      ``uf(t)`` = number of distinct entity profiles containing ``t``
      (an integer-exact inverse-candidate-frequency, the TF-ICF idea
      Spotlight uses with floats). A token unique to one profile
      weighs 10⁶; one spread over 1000 profiles weighs 1 — common
      filler words stop out-voting the discriminating ones.
    - ``evidence`` = ⌊(Σ_t cnt(uri,t)·w(t)) × 10³ / profile_total⌋ —
      ICF-weighted overlap normalized by the candidate's total token
      mass. Raw overlap favors hub entities; per-mass normalization
      alone over-penalizes them when the discriminating token IS
      present (big profile ⇒ small normalized score even with the
      topic token). The measured ladder on the ambiguous synthetic
      corpus (sf0.01 top-1 accuracy): prior-only 0.9137 → +overlap
      /profile_total 0.9753 → +ICF² weighting 0.9831. Integer
      division of exact ints — oracle-safe; bound: the weighted sum
      ×10³ must stay < 2⁶³, i.e. Σ cnt·w < 9.2×10¹⁵ — at w ≤ 10⁶
      that is 9.2×10⁹ raw overlap mass per (mention, uri), orders of
      magnitude above any real context.
    - rank: ``row_number`` by (evidence desc, prior_cnt desc, uri
      asc); top-``k`` kept.

    Scale shape: the candidate dictionary is broadcast twice (P11) —
    the corpus-sized sides never shuffle for it; the evidence join
    shuffles compact ``(mention_id, uri, token)`` rows keyed on
    ``(uri, token)`` against the token profile, then partial/final
    aggregates on ``(mention_id, uri)``. Hub entities are absorbed by
    map-side partial aggregation (counts are algebraic). NB the token
    profile includes each mention's own context — deterministic
    self-training semantics, same as Spotlight indexing its own corpus.
    """
    # mention_id_col coalesces to '' BEFORE hashing: concat_ws SKIPS
    # nulls (dropping the separator — a null-context mention would
    # collide with a no-context one under a different grouping) while
    # SQL '||' propagates them (md5(NULL) = NULL); pinning '' keeps
    # both engines identical and every mention addressable
    dm = mentions.select("url", "context", "surface_form").distinct().withColumn(
        "mention_id", mention_id_col()
    )
    return _disambiguate_dm(dm, pair_counts, token_counts, k=k, lang=lang)


def _disambiguate_dm(
    dm: DataFrame,
    pair_counts: DataFrame,
    token_counts: DataFrame,
    k: int,
    lang: str,
) -> DataFrame:
    """:func:`disambiguate` body over a pre-built distinct mention
    table (url, context, surface_form, mention_id) — shared with the
    routed variant so its contested branch reuses the SAME dm subtree
    (one distinct exchange, deduped by Spark's ReuseExchange) instead
    of re-shuffling the mention contexts a second time."""
    from pignlproc_spark.functions.tokenize import tokens_col

    cands = pair_counts.select("surface_form", "uri", F.col("cnt").cast("long").alias("prior_cnt"))
    mention_tokens = dm.select(
        "mention_id",
        "surface_form",
        F.explode(F.array_distinct(tokens_col(F.col("context"), lang=lang))).alias("token"),
    )
    # per-token discrimination weight: uf = #distinct profiles holding
    # the token. One extra aggregation + co-partitioned join of the
    # dictionary-sized profile table on `token` — an indexing-time
    # artifact (materialize alongside tokenCounts on a real cluster)
    uf = token_counts.groupBy("token").agg(F.count_distinct("uri").cast("long").alias("_uf"))
    weighted_counts = token_counts.join(uf, "token")
    overlap = (
        mention_tokens.join(F.broadcast(cands.select("surface_form", "uri")), "surface_form")
        .join(weighted_counts, ["uri", "token"])
        .groupBy("mention_id", "uri")
        .agg(
            F.sum("cnt").cast("long").alias("overlap_cnt"),
            F.sum(F.expr("cnt * (1000000L DIV (_uf * _uf))")).cast("long").alias("_icf_overlap"),
        )
    )
    # per-candidate token mass for the evidence normalization — one
    # row per uri, dictionary-sized, broadcast like the candidates
    profile_totals = token_counts.groupBy("uri").agg(F.sum("cnt").cast("long").alias("_ptot"))
    # context is consumed by tokenization above — drop it before the
    # scored join so the (mention_id, uri) shuffle carries ~50-byte
    # keys, not full context strings
    scored = (
        dm.select("url", "surface_form", "mention_id")
        .join(F.broadcast(cands), "surface_form")
        .join(overlap, ["mention_id", "uri"], "left")
        .join(F.broadcast(profile_totals), "uri", "left")
        .withColumn("overlap_cnt", F.coalesce(F.col("overlap_cnt"), F.lit(0)).cast("long"))
        .withColumn("_icf_overlap", F.coalesce(F.col("_icf_overlap"), F.lit(0)).cast("long"))
        .withColumn(
            "evidence",
            # integral DIV, not floor(double /): long/long promotes to
            # double and loses exactness past 2^53 — DIV matches
            # DuckDB's `//` bit-for-bit (bound in the docstring)
            F.when(
                F.col("_ptot") > 0, F.expr("(_icf_overlap * 1000L) DIV _ptot")
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    if k == 1:
        # decision mode: min(struct) aggregation instead of a window —
        # partial/final HashAggregate (map-side combine, no per-group
        # sort); struct field order IS the ranking (neg counts ⇒ desc)
        best = scored.groupBy("mention_id").agg(
            F.min(
                F.struct(
                    (-F.col("evidence")).alias("_ne"),
                    (-F.col("prior_cnt")).alias("_np"),
                    F.col("uri"),
                    F.col("url"),
                    F.col("surface_form"),
                    F.col("overlap_cnt"),
                )
            ).alias("b")
        )
        return best.select(
            F.col("b.url").alias("url"),
            F.col("b.surface_form").alias("surface_form"),
            "mention_id",
            F.col("b.uri").alias("uri"),
            (-F.col("b._ne")).cast("long").alias("evidence"),
            F.col("b.overlap_cnt").cast("long").alias("overlap_cnt"),
            (-F.col("b._np")).cast("long").alias("prior_cnt"),
            F.lit(1).cast("int").alias("rank"),
        )
    w = Window.partitionBy("mention_id").orderBy(F.desc("evidence"), F.desc("prior_cnt"), F.asc("uri"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("url", "surface_form", "mention_id", "uri", "evidence", "overlap_cnt", "prior_cnt", "rank")
    )


def disambiguate_routed(
    mentions: DataFrame,
    pair_counts: DataFrame,
    token_counts: DataFrame,
    k: int = 1,
    lang: str = "en",
    top_share_threshold_mille: int = 980,
) -> DataFrame:
    """:func:`disambiguate` with ambiguity routing: surfaces whose top
    candidate owns ≥ ``top_share_threshold_mille``/1000 of the anchor
    mass (top share = max pair count × 1000 DIV the surface's total,
    computed here from ``pair_counts``) take the PRIOR-ONLY
    fast path — no tokenization, no evidence join; only contested
    surfaces pay for context evidence. Same output schema plus a
    ``route`` column ('prior' | 'context').

    Why this is safe: on a ≥ 98 %-dominant surface the prior-only
    decision and the full-model decision coincide except when context
    evidence overturns a 50:1 prior — which the measured ladder shows
    is as likely to hurt as help (the full model's gains concentrate
    on CONTESTED surfaces). Accuracy is pinned by the
    ``kg_disambiguation_accuracy_routed`` driver check (routed == full
    hit count at the default threshold on the ambiguous synthetic
    corpus).

    Scale shape: the routing dimension is one dictionary-sized
    aggregate of ``pair_counts`` broadcast to the mention table — the
    corpus never shuffles to route. On web anchors the top-share
    distribution is bimodal (most surfaces near 1000, a contested
    minority near 500), so the expensive path — context tokenization
    + the (uri, token) evidence shuffle — runs over a small fraction
    of mentions. The model statistics (ICF weights, profile totals)
    are unchanged: contested mentions score identically to
    :func:`disambiguate`.
    """
    # routing + fast-path decisions are BOTH per-surface, so both are
    # computed on the dictionary-sized pair_counts table — the mention
    # corpus never shuffles for the easy branch: its decision is a
    # map-only broadcast lookup of the surface's precomputed top-k
    amb = pair_counts.groupBy("surface_form").agg(
        F.max(F.col("cnt").cast("long")).alias("_top"),
        F.sum(F.col("cnt").cast("long")).alias("_tot"),
    )
    easy_sfs = amb.where(
        F.expr("(_top * 1000L) DIV _tot") >= top_share_threshold_mille
    ).select("surface_form")
    cands = pair_counts.select(
        "surface_form", "uri", F.col("cnt").cast("long").alias("prior_cnt")
    )
    w_sf = Window.partitionBy("surface_form").orderBy(F.desc("prior_cnt"), F.asc("uri"))
    easy_topk = (
        cands.join(easy_sfs, "surface_form")
        .withColumn("rank", F.row_number().over(w_sf).cast("int"))
        .where(F.col("rank") <= k)
    )

    # one distinct-mention build shared by both branches: identical
    # plan subtree, so Spark's ReuseExchange serves both consumers from
    # ONE shuffle (checkpointing here was measured slower — writing 6M
    # full-context rows to disk costs more than the distinct it saves)
    dm = (
        mentions.select("url", "context", "surface_form")
        .distinct()
        .withColumn("mention_id", mention_id_col())
    )
    easy_out = dm.join(F.broadcast(easy_topk), "surface_form").select(
        "url",
        "surface_form",
        "mention_id",
        "uri",
        F.lit(0).cast("long").alias("evidence"),
        F.lit(0).cast("long").alias("overlap_cnt"),
        "prior_cnt",
        "rank",
        F.lit("prior").alias("route"),
    )
    hard_m = dm.join(F.broadcast(easy_sfs), "surface_form", "left_anti")
    # contested path: the unchanged full model over the hard subset
    # only — tokenization and the evidence shuffle never see routed-out
    # mentions. Model statistics come from the FULL token_counts table.
    # _disambiguate_dm consumes hard_m's dm subtree directly: the
    # distinct exchange is shared with the easy branch (ReuseExchange),
    # not recomputed.
    hard_out = _disambiguate_dm(hard_m, pair_counts, token_counts, k=k, lang=lang).withColumn(
        "route", F.lit("context")
    )
    return easy_out.unionByName(hard_out)
