"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG pipeline (sf0.001 synthetic corpus →
triples). ``queries()`` — one entry per implemented operator from
SURVEY.md §2 (KG pipeline stages over the deterministic synthetic
corpus; relational operator matrix + training-data ops over the
driver's parquet tables). ``oracle_sql()`` — DuckDB-equivalent SQL;
synthetic-corpus queries are checked against generator-golden parquet
(read_parquet absolute paths), relational ones against the
pre-registered driver views.

Column-name/type discipline: every computed column is aliased
identically on both sides; counts/sizes are cast to BIGINT on both
sides; float sums are avoided (integer/md5/decimal-derived outputs)
except where both engines compute the identical IEEE expression.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pignlproc_spark import synth
from pignlproc_spark.functions.extract import parse_pages
from pignlproc_spark.functions.tokenize import STOPWORDS
from pignlproc_spark.operators import dedup, linking, multimodal, textstats
from pignlproc_spark.operators.canonicalize import expand_disambiguations, resolve_mapping
from pignlproc_spark.plans import pipeline

SF_ORACLE = 0.01  # driver runs correctness at sf0.01

# web_html_extract page template (CCHtml v1 differential fixture):
# boilerplate head + nav, the doc text in the body, an entity gauntlet
# and table/list structure after it. NO single quotes (the same
# literals are spliced into the DuckDB oracle SQL verbatim).
HTML_WRAP_PRE = (
    '<!DOCTYPE html><html><head><title>doc</title>'
    '<script type="text/javascript">var i=0; if (i<1) { i = 2 > 1 ? 3 : 4; }</script>'
    '<style>.nav{color:#fff}</style></head><body><!-- boilerplate header -->'
    '<div class="nav">Home | <a href="/about">About</a></div><h1>Doc '
)
HTML_WRAP_MID = "</h1><p>"

# web_robots_filter fixture (CCRobots v1 differential): a badbot group
# that must NOT leak into the '*' verdicts, then the starred group with
# a shorter Disallow overridden by a longer Allow. NO single quotes.
# The badbot group's Crawl-delay must NOT leak into the * verdicts;
# the non-integer trailing delay is ignored per the CCRobots v1
# integer-seconds freeze (robots_crawl_delay).
# Sitemap: directives are group-independent (one before any group —
# case kept in the value — one inside the * group) and invisible to
# the allow/disallow verdict parse.
ROBOTS_BODY = (
    "# synthetic robots fixture\n"
    "Sitemap: https://SEE.example/root-sitemap.xml\n"
    "User-agent: badbot\nDisallow: /\nCrawl-delay: 99\n\n"
    "User-agent: *\nCrawl-delay: 3\nDisallow: /p/0000\nAllow: /p/00000\n"
    "Crawl-delay: 2.5\n"
    "Sitemap: https://cdn.example/maps/site-2.xml\n"
)
HTML_WRAP_POST = (
    "</p><ul><li>&lt;escaped&gt; &amp;co.</li>"
    "<li>&quot;quoted&#39;s&quot;&nbsp;item</li></ul>"
    "<table><tr><td>k</td><td>v</td></tr></table><br/><hr></body></html>"
)
# web_link_graph page template (CCLink v1 differential fixture): four
# decoy anchors that must NOT match the frozen HREF_RE (<abbr href>,
# hreflang with no real href, data-xhref, an unquoted value), a
# fragment-only href that matches but resolves to NULL, then the three
# real edges — protocol-relative to the cc0 hub, host-relative, and an
# absolute link to an off-crawl aggregator host. NO single quotes
# (spliced verbatim into the DuckDB oracle SQL).
LINK_WRAP_PRE = (
    '<html><body><nav><abbr href="https://no.example/a">cc</abbr>'
    '<a hreflang="de" class="x">n</a>'
    '<a data-xhref="https://no.example/c">m</a>'
    "<a href=nope.html>u</a>"
    '<a href="#top">t</a>'
    '<A HREF="//cc0.example/pr">p</A>'
    '<a class="nav" href="/l/x">l</a>'
    '<a href="https://hub.example/out?src='
)
LINK_WRAP_POST = '">h</a></body></html>'

# web_anchor_stats page template (CCLink v1 paired-scan fixture): a KB
# entity anchor whose surface embeds the page id, a boilerplate anchor
# whose inner text needs whitespace normalization (leading tab, double
# spaces), and a nested-markup anchor the v1 element scan must skip.
# NO single quotes (spliced verbatim into the DuckDB oracle SQL).
ANCHOR_WRAP_PRE = '<p>See <a class="x" href="https://kb.example/e/'
ANCHOR_WRAP_MID = '">Entity '
ANCHOR_WRAP_POST = (
    '</a> and <a href="/faq">\tread   more </a>'
    '<a href="/skip"><b>nested</b></a>.</p>'
)

# web_sitemap_routing fixture: every host publishes one INDEX body
# (two child sitemaps, one with an entity-encoded ampersand) and one
# flat urlset body (two page locs, same probe). NO single quotes.
SMI_WRAP = (
    '<?xml version="1.0"?><sitemapindex><sitemap><loc>https://',
    "/sitemap-a.xml</loc></sitemap><sitemap><loc>https://",
    "/sitemap-b&amp;c.xml</loc></sitemap></sitemapindex>",
)
SMF_WRAP = (
    '<?xml version="1.0"?><urlset><url><loc>https://',
    "/p1</loc></url><loc>https://",
    "/p&amp;2</loc></urlset>",
)

# web_page_metadata head template (CCMeta v1 differential fixture):
# a commented-out title + canonical that comment-stripping must kill,
# two decoy metas the whitespace-before-attribute rule must skip
# (name= inside data-name=, xdescription), a title needing whitespace
# normalization, canonical in BOTH attribute orders (by pid parity),
# description absent on every 5th page, robots noindex on every 3rd,
# and 0–3 hreflang alternates (one with an uppercase <LINK>). NO
# single quotes (spliced verbatim into the DuckDB oracle SQL).
META_WRAP_PRE = (
    '<html><head><!-- <title>decoy</title> <link rel="canonical" href="https://no.example/x"> -->'
    '<meta name="xdescription" content="no"><meta data-name="description" content="no2">'
    "<title>Page "
)
META_TITLE_MID = "   on  "
META_CANON_KV = ('<link rel="canonical" href="https://', '">')
META_CANON_VK = ('<link href="https://', '" rel="canonical">')
META_DESC = ('<meta name="description" content="Doc ', " about ", '">')
META_ROBOTS_NOIDX = '<meta content="noindex, nofollow" name="robots">'
META_ROBOTS_IDX = '<meta name="robots" content="index, follow">'
META_HL1 = '<link rel="alternate" hreflang="de" href="/de">'
META_HL2 = '<link hreflang="fr" href="/fr">'
META_HL3 = '<LINK hreflang="es" href="/es">'
META_WRAP_POST = '</head><body><a href="/x">x</a></body></html>'

STOPWORDS_SQL = "['" + "','".join(sorted(STOPWORDS)) + "']"
TOKEN_RE_SQL = r"[^\W_]+"

_CACHE: dict = {}


# ---------------------------------------------------------------------------
# shared lazy inputs
# ---------------------------------------------------------------------------


def _syn(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return synth.side_table(spark, sf_dir, name)


def _pipeline(spark: SparkSession, sf_dir: str) -> pipeline.PipelineResult:
    # keyed by application id: cached DataFrames are session-bound, so
    # a fresh SparkSession must recompute rather than act on dead refs
    key = ("pipe", spark.sparkContext.applicationId, sf_dir)
    if key not in _CACHE:
        _CACHE[key] = pipeline.run_synth(spark, sf_dir)
    return _CACHE[key]


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _syn_path(name: str) -> str:
    return str(synth.generate(SF_ORACLE) / f"{name}.parquet")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction pipeline on the sf0.001 synthetic
    corpus → (subj, pred, obj, weight) triples."""
    return _pipeline(spark, "/root/testdata/sf0.001").triples


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- KG pipeline stages (synthetic corpus; goldens as oracle) ----
    def kg_extract_text(spark, sf_dir):
        pages = synth.pages_for(spark, sf_dir)
        return parse_pages(pages.drop("text")).select("url", "text")

    def kg_pair_counts(spark, sf_dir):
        return _pipeline(spark, sf_dir).pair_counts

    def kg_uri_counts(spark, sf_dir):
        return _pipeline(spark, sf_dir).uri_counts

    def kg_sf_total_counts(spark, sf_dir):
        return _pipeline(spark, sf_dir).sf_total_counts

    def kg_token_counts(spark, sf_dir):
        return _pipeline(spark, sf_dir).token_counts

    def kg_mentions(spark, sf_dir):
        m = _pipeline(spark, sf_dir).mentions
        return m.groupBy("url", "context", "surface_form", "uri").agg(F.count(F.lit(1)).alias("cnt"))

    def kg_triples(spark, sf_dir):
        return _pipeline(spark, sf_dir).triples

    def kg_resolve_redirects(spark, sf_dir):
        return resolve_mapping(_syn(spark, sf_dir, "redirects"))

    def kg_dab_expand(spark, sf_dir):
        uc = _syn(spark, sf_dir, "golden_uri_counts")
        dabs = _syn(spark, sf_dir, "disambiguations")
        return (
            expand_disambiguations(uc, dabs, "uri")
            .groupBy("uri")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )

    def kg_link_candidates(spark, sf_dir):
        return linking.candidate_topk(_syn(spark, sf_dir, "surface_forms"), k=3).withColumn(
            "rank", F.col("rank").cast("int")
        )

    def kg_link_probability(spark, sf_dir):
        lp = linking.link_probability(_syn(spark, sf_dir, "surface_forms"))
        return lp.select(
            "surface_form",
            F.col("anchor_total").cast("bigint").alias("anchor_total"),
            F.col("occurrence_total").cast("bigint").alias("occurrence_total"),
            "link_prob",
        )

    def kg_disambiguate(spark, sf_dir):
        p = _pipeline(spark, sf_dir)
        return linking.disambiguate(p.mentions, p.pair_counts, p.token_counts, k=3)

    def kg_disambiguate_routed(spark, sf_dir):
        # ambiguity-routed linker: dominant surfaces (top share >= 98%)
        # decide on the broadcast prior alone; contested ones run the
        # full context-evidence model. Exact-output check of BOTH paths.
        p = _pipeline(spark, sf_dir)
        return linking.disambiguate_routed(p.mentions, p.pair_counts, p.token_counts, k=1)

    def kg_disambiguation_accuracy(spark, sf_dir):
        # top-1 gold-link recovery, full model vs prior-only ablation —
        # the corpus-level quality metric for the linker (the synthetic
        # corpus plants contested surface forms, so the two differ)
        p = _pipeline(spark, sf_dir)
        gold = (
            p.mentions.select("url", "context", "surface_form", "uri")
            .distinct()
            .select(
                linking.mention_id_col().alias("mention_id"),
                F.col("uri").alias("gold_uri"),
            )
        )
        best = linking.disambiguate(p.mentions, p.pair_counts, p.token_counts, k=1).select(
            "mention_id", F.col("uri").alias("pred")
        )
        prior = linking.disambiguate(
            p.mentions, p.pair_counts, p.token_counts.where(F.lit(False)), k=1
        ).select("mention_id", F.col("uri").alias("pred_prior"))
        return (
            gold.join(best, "mention_id")
            .join(prior, "mention_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_gold"),
                F.sum((F.col("pred") == F.col("gold_uri")).cast("long")).cast("bigint").alias("n_hit"),
                F.sum((F.col("pred_prior") == F.col("gold_uri")).cast("long"))
                .cast("bigint")
                .alias("n_hit_prior"),
            )
        )

    def kg_disambiguation_accuracy_routed(spark, sf_dir):
        # accuracy parity of the routed fast path: gold-link hit counts
        # of routed vs full model, plus how many mentions rode the
        # prior-only route — the driver-visible basis for the claim
        # that routing is accuracy-neutral at the default threshold
        p = _pipeline(spark, sf_dir)
        gold = (
            p.mentions.select("url", "context", "surface_form", "uri")
            .distinct()
            .select(
                linking.mention_id_col().alias("mention_id"),
                F.col("uri").alias("gold_uri"),
            )
        )
        routed = linking.disambiguate_routed(
            p.mentions, p.pair_counts, p.token_counts, k=1
        ).select("mention_id", F.col("uri").alias("pred_routed"), "route")
        full = linking.disambiguate(p.mentions, p.pair_counts, p.token_counts, k=1).select(
            "mention_id", F.col("uri").alias("pred_full")
        )
        return (
            gold.join(routed, "mention_id")
            .join(full, "mention_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_gold"),
                F.sum((F.col("pred_routed") == F.col("gold_uri")).cast("long"))
                .cast("bigint")
                .alias("n_hit_routed"),
                F.sum((F.col("pred_full") == F.col("gold_uri")).cast("long"))
                .cast("bigint")
                .alias("n_hit_full"),
                F.sum((F.col("route") == "prior").cast("long")).cast("bigint").alias("n_prior_routed"),
            )
        )

    def kg_nerd_stats(spark, sf_dir):
        from pignlproc_spark.operators.stats import nerd_stats

        ns = nerd_stats(_pipeline(spark, sf_dir).mentions)
        return ns.select("surface_form", "uri", "cnt", F.col("sf_total").cast("bigint").alias("sf_total"))

    q.update(
        kg_extract_text=kg_extract_text,
        kg_pair_counts=kg_pair_counts,
        kg_uri_counts=kg_uri_counts,
        kg_sf_total_counts=kg_sf_total_counts,
        kg_token_counts=kg_token_counts,
        kg_mentions=kg_mentions,
        kg_triples=kg_triples,
        kg_resolve_redirects=kg_resolve_redirects,
        kg_dab_expand=kg_dab_expand,
        kg_link_candidates=kg_link_candidates,
        kg_link_probability=kg_link_probability,
        kg_disambiguate=kg_disambiguate,
        kg_disambiguate_routed=kg_disambiguate_routed,
        kg_disambiguation_accuracy=kg_disambiguation_accuracy,
        kg_disambiguation_accuracy_routed=kg_disambiguation_accuracy_routed,
        kg_nerd_stats=kg_nerd_stats,
    )

    # ---- relational operator matrix (driver TPC-H-ish tables) ----
    def tpch_pricing_summary(spark, sf_dir):
        li = _read(spark, sf_dir, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
            )
        )

    def tpch_revenue_by_nation(spark, sf_dir):
        li = _read(spark, sf_dir, "lineitem")
        o = _read(spark, sf_dir, "orders")
        c = _read(spark, sf_dir, "customer")
        n = _read(spark, sf_dir, "nation")
        rev = (F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .groupBy("n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("li_cnt"))
        )

    def tpch_part_order_fill(spark, sf_dir):
        p = _read(spark, sf_dir, "part")
        li = _read(spark, sf_dir, "lineitem")
        cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("_c"))
        return (
            p.join(cnt, p["p_partkey"] == cnt["l_partkey"], "left")
            .select("p_partkey", F.coalesce(F.col("_c"), F.lit(-1)).cast("bigint").alias("li_cnt"))
        )

    def tpch_top_orders_per_segment(spark, sf_dir):
        from pyspark.sql import Window

        o = _read(spark, sf_dir, "orders")
        c = _read(spark, sf_dir, "customer")
        j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        return (
            j.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("c_mktsegment", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn"))
        )

    def tpch_distinct_flag_status(spark, sf_dir):
        return _read(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()

    def tpch_union_priority(spark, sf_dir):
        o = _read(spark, sf_dir, "orders")
        hi = o.where(F.col("o_totalprice") >= 200000).select("o_orderkey", F.lit("high").alias("bucket"))
        lo = o.where(F.col("o_totalprice") < 50000).select("o_orderkey", F.lit("low").alias("bucket"))
        return hi.unionByName(lo)

    def tpch_substring_ops(spark, sf_dir):
        p = _read(spark, sf_dir, "part")
        # Pig SUBSTRING(s, 2, 8): 0-based [2,8) == SQL substring(s, 3, 6)
        return p.select(
            "p_partkey",
            F.substring("p_name", 3, 6).alias("pig_substr"),
            F.lower(F.trim(F.col("p_brand"))).alias("brand_lc"),
            F.concat_ws("#", "p_type", "p_brand").alias("type_brand"),
            F.length("p_name").cast("bigint").alias("name_len"),
        )

    def tpch_orderby_limit(spark, sf_dir):
        o = _read(spark, sf_dir, "orders")
        return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).select(
            "o_orderkey", "o_totalprice"
        ).limit(10)

    def events_props_extract(spark, sf_dir):
        e = _read(spark, sf_dir, "events")
        k = F.regexp_extract(F.col("props"), r'"k":[ \t\n\x0B\f\r]*([0-9]+)', 1).cast("bigint")
        return (
            e.withColumn("_k", k)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("_k").cast("bigint").alias("sum_k"),
                F.min("_k").cast("bigint").alias("min_k"),
                F.max("_k").cast("bigint").alias("max_k"),
            )
        )

    def docs_explode_tokens(spark, sf_dir):
        return textstats.top_tokens(_read(spark, sf_dir, "documents"), k=100)

    q.update(
        tpch_pricing_summary=tpch_pricing_summary,
        tpch_revenue_by_nation=tpch_revenue_by_nation,
        tpch_part_order_fill=tpch_part_order_fill,
        tpch_top_orders_per_segment=tpch_top_orders_per_segment,
        tpch_distinct_flag_status=tpch_distinct_flag_status,
        tpch_union_priority=tpch_union_priority,
        tpch_substring_ops=tpch_substring_ops,
        tpch_orderby_limit=tpch_orderby_limit,
        events_props_extract=events_props_extract,
        docs_explode_tokens=docs_explode_tokens,
    )

    # ---- training-data ops (documents) ----
    def docs_minhash_sigs(spark, sf_dir):
        return dedup.minhash_signatures(_read(spark, sf_dir, "documents")).select(
            "doc_id", F.col("band").cast("int").alias("band"), "sig"
        )

    def docs_minhash_wide(spark, sf_dir):
        # high-recall 8-band config (second keyed hash family)
        return dedup.minhash_signatures(_read(spark, sf_dir, "documents"), bands=8).select(
            "doc_id", F.col("band").cast("int").alias("band"), "sig"
        )

    def docs_lsh_pairs(spark, sf_dir):
        return dedup.lsh_candidate_pairs(_read(spark, sf_dir, "documents"))

    def docs_dedup_clusters(spark, sf_dir):
        # LSH pairs -> transitive near-dup clusters (large-star/small-star)
        d = _read(spark, sf_dir, "documents")
        return dedup.connected_components(dedup.lsh_candidate_pairs(d))

    def docs_dedup_keep(spark, sf_dir):
        # the end-to-end near-dup verdict: one survivor per cluster
        d = _read(spark, sf_dir, "documents")
        return dedup.dedup_keep_decision(d, dedup.lsh_candidate_pairs(d))

    def docs_repetition(spark, sf_dir):
        return textstats.repetition_signals(_read(spark, sf_dir, "documents"))

    def docs_curation_pipeline(spark, sf_dir):
        # the composed per-doc curation verdict a training pipeline
        # materializes: C4-style quality/lang/exact-canonicality gate ×
        # transitive near-dup survivorship, one row per document
        d = _read(spark, sf_dir, "documents")
        cf = textstats.corpus_filter(d).select("doc_id", F.col("keep").alias("quality_keep"))
        nd = dedup.dedup_keep_decision(d, dedup.lsh_candidate_pairs(d)).select(
            "doc_id", F.col("keep").alias("neardup_keep")
        )
        return cf.join(nd, "doc_id").select(
            "doc_id",
            "quality_keep",
            "neardup_keep",
            (F.col("quality_keep") * F.col("neardup_keep")).cast("int").alias("keep"),
        )

    def kg_entity_cooccurrence(spark, sf_dir):
        from pignlproc_spark.operators import stats

        return stats.entity_cooccurrence(_pipeline(spark, sf_dir).mentions)

    def kg_entity_pagerank(spark, sf_dir):
        # rows-only: float power iteration (pytest verifies against a
        # dense reference implementation to 1e-9)
        from pignlproc_spark.operators import stats

        return stats.entity_pagerank(_pipeline(spark, sf_dir).mentions, iterations=5)

    def docs_jaccard_pairs(spark, sf_dir):
        d = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
        return dedup.jaccard_pairs(d, min_jaccard_pct=10)

    def docs_rarity_score(spark, sf_dir):
        return textstats.rarity_score(_read(spark, sf_dir, "documents"))

    def docs_mix_corpus(spark, sf_dir):
        return textstats.mix_corpus(
            _read(spark, sf_dir, "documents"),
            {"src0": 250, "src1": 130, "src2": 0},
            default_pct=40,
        )

    def docs_mix_temperature(spark, sf_dir):
        # τ=2 temperature mixing: per-source rates DERIVED as
        # √-shares of the corpus (α=1/2 is the one temperature that
        # stays oracle-exact — IEEE sqrt is correctly rounded, then
        # quantized to BIGINT immediately); same frozen md5-bucket
        # fractional-epoch rule as docs_mix_corpus. The uniform src0–19
        # labels are folded into skewed web/books/code groups (14:4:2)
        # so the flattening is real: the head rate lands BELOW 100,
        # the tail ABOVE. Tiny source table + 1-row broadcast; the
        # corpus never shuffles
        d = _read(spark, sf_dir, "documents").withColumn(
            "_idx", F.substring("source", 4, 10).cast("int")
        )
        grouped = d.withColumn(
            "source",
            F.when(F.col("_idx") < 14, "web")
            .when(F.col("_idx") < 18, "books")
            .otherwise("code"),
        )
        return textstats.temperature_mix(grouped)

    def docs_quality_gate(spark, sf_dir):
        return textstats.quality_gate(_read(spark, sf_dir, "documents"), q=10)

    def docs_tfidf_topk(spark, sf_dir):
        return textstats.tfidf_topk(_read(spark, sf_dir, "documents"), k=3)

    def docs_quality_classifier(spark, sf_dir):
        # CCLogReg v1: bit-deterministic distributed training of a
        # hashed bag-of-words quality classifier (hard-sigmoid GD,
        # integer weights, dim=64, 3 rounds); the TRAINING LOOP itself
        # is the oracle-checked artifact (unrolled-CTE replay)
        from pignlproc_spark.functions.tokenize import tokens_col
        from pignlproc_spark.operators import classifier

        d = _read(spark, sf_dir, "documents")
        labeled = d.select(
            "doc_id",
            "text",
            (F.size(tokens_col(F.col("text"), apply_stoplist=False)) >= 56)
            .cast("int")
            .alias("y"),
        )
        model = classifier.train_hashed_logreg(labeled, dim=64, rounds=3)
        return classifier.score_docs(d, model).join(
            labeled.select(
                F.col("doc_id").cast("bigint").alias("doc_id"), F.col("y").alias("label")
            ),
            "doc_id",
        )

    def docs_lang_id(spark, sf_dir):
        return textstats.lang_id(_read(spark, sf_dir, "documents"))

    def docs_quality(spark, sf_dir):
        return textstats.quality_signals(_read(spark, sf_dir, "documents"))

    def docs_fingerprint(spark, sf_dir):
        return textstats.doc_fingerprint(_read(spark, sf_dir, "documents"))

    def docs_token_counts(spark, sf_dir):
        return textstats.token_counts_per_doc(_read(spark, sf_dir, "documents"))

    def docs_bpe_pieces(spark, sf_dir):
        return textstats.bpe_ish_token_counts(_read(spark, sf_dir, "documents"))

    def docs_corpus_filter(spark, sf_dir):
        return textstats.corpus_filter(_read(spark, sf_dir, "documents"))

    # ---- web-page URL ops (CCUrl v1; input_hint's url key) ----
    def web_canonical_urls(spark, sf_dir):
        from pignlproc_spark.functions.urls import canonical_url_col, host_col

        pages = synth.pages_for(spark, sf_dir)
        # plant the classic crawl-dup variants (fragment, cased
        # scheme+host, trailing slash) and collapse them
        v = pages.select(
            F.explode(
                F.array(
                    F.col("url"),
                    F.concat(F.col("url"), F.lit("#section")),
                    F.upper(F.col("url")),
                    F.concat(F.col("url"), F.lit("/")),
                )
            ).alias("variant")
        )
        return v.select(
            "variant",
            canonical_url_col(F.col("variant")).alias("canonical_url"),
            host_col(F.col("variant")).alias("host"),
        )

    def web_html_extract(spark, sf_dir):
        # CCHtml v1 over a deterministically-constructed HTML page per
        # document (script/style/comment boilerplate + block structure
        # + the entity gauntlet wrapped around the real text) — both
        # engines build the identical bytes, so the hash match checks
        # the full extraction pipeline character-for-character
        from pignlproc_spark.functions.html import html_to_text_col

        docs = _read(spark, sf_dir, "documents")
        page = F.concat(
            F.lit(HTML_WRAP_PRE),
            F.col("doc_id").cast("string"),
            F.lit(HTML_WRAP_MID),
            F.col("text"),
            F.lit(HTML_WRAP_POST),
        )
        return docs.select(
            "doc_id", html_to_text_col(page).alias("text")
        ).withColumn("n_chars", F.length("text").cast("bigint"))

    def docs_mojibake_fix(spark, sf_dir):
        # CCMoji v1 over deterministically-damaged text: docs with
        # doc_id%7==0 arrive with 'e' mojibake'd to the cp1252 form of
        # 'é', %5==0 with 'o' damaged to 'ö' (both, for %35). The
        # count + repaired text are hash-exact against the oracle's
        # chain rendered from the same generated table.
        from pignlproc_spark.functions import encoding as enc

        repaired = {c: d for d, c in enc.MOJIBAKE_TABLE}
        de, do = repaired["é"], repaired["ö"]
        docs = _read(spark, sf_dir, "documents")
        t1 = F.when(
            F.col("doc_id") % 7 == 0, F.replace(F.col("text"), F.lit("e"), F.lit(de))
        ).otherwise(F.col("text"))
        t2 = F.when(F.col("doc_id") % 5 == 0, F.replace(t1, F.lit("o"), F.lit(do))).otherwise(t1)
        return enc.encoding_signals(docs.select("doc_id", t2.alias("text")))

    def docs_history_dedup(spark, sf_dir):
        # simulated re-crawl: even docs arrive byte-identical (seen),
        # odd docs arrive edited (' v2' suffix — never seen). The
        # Bloom digest prunes the join input; the confirm semi-join
        # makes the verdict exact, so the oracle is a plain anti-join.
        docs = _read(spark, sf_dir, "documents")
        new = (
            docs.where(F.col("doc_id") % 2 == 0)
            .select("doc_id", "text")
            .unionByName(
                docs.where(F.col("doc_id") % 2 == 1).select(
                    "doc_id", F.concat(F.col("text"), F.lit(" v2")).alias("text")
                )
            )
        )
        return dedup.dedup_against_history(new, docs)

    def web_robots_filter(spark, sf_dir):
        # hosts cc0-cc4 publish the fixture robots.txt (cc5-cc9 have
        # none → allowed with no matched prefix); longest-match means
        # ids < 100 (five leading path zeros) are Allow'd, the rest of
        # the ids < 10000 hit the shorter Disallow
        from pignlproc_spark.functions.urls import host_col, parse_robots, robots_filter

        pages = synth.pages_for(spark, sf_dir)
        hosts = (
            pages.select(host_col(F.col("url")).alias("host"))
            .distinct()
            .where(F.substring("host", 3, 1).isin(*"01234"))
        )
        robots = hosts.select("host", F.lit(ROBOTS_BODY).alias("body"))
        return robots_filter(pages, parse_robots(robots))

    def web_robots_sitemaps(spark, sf_dir):
        # group-independent Sitemap: directives (sitemaps.org protocol)
        # — one before any UA group (value case KEPT), one inside the
        # * group; the discovery bridge robots.txt → sitemap routing.
        # Same single line-explode as the verdict parse + one distinct
        from pignlproc_spark.functions.urls import host_col, robots_sitemaps

        pages = synth.pages_for(spark, sf_dir)
        hosts = (
            pages.select(host_col(F.col("url")).alias("host"))
            .distinct()
            .where(F.substring("host", 3, 1).isin(*"01234"))
        )
        robots = hosts.select("host", F.lit(ROBOTS_BODY).alias("body"))
        return robots_sitemaps(robots)

    def web_crawl_delays(spark, sf_dir):
        # Crawl-delay of the * groups (CCRobots v1 extension): integer
        # seconds only, MAX across groups; the badbot group's delay
        # and a fractional trailing value must both be ignored. Same
        # single line-explode as the verdict parse + one MAX per host
        from pignlproc_spark.functions.urls import host_col, robots_crawl_delay

        pages = synth.pages_for(spark, sf_dir)
        hosts = (
            pages.select(host_col(F.col("url")).alias("host"))
            .distinct()
            .where(F.substring("host", 3, 1).isin(*"01234"))
        )
        robots = hosts.select("host", F.lit(ROBOTS_BODY).alias("body"))
        return robots_crawl_delay(robots)

    def docs_readability(spark, sf_dir):
        return textstats.readability_signals(_read(spark, sf_dir, "documents"))

    def web_sitemap_urls(spark, sf_dir):
        # round-trip fixture: each host publishes a sitemap of its own
        # urls (sorted, entity-encoded ampersand probe appended); the
        # parse must recover every loc exactly
        from pignlproc_spark.functions.urls import host_col, parse_sitemap

        pages = synth.pages_for(spark, sf_dir)
        sitemaps = (
            pages.select(host_col(F.col("url")).alias("host"), F.col("url"))
            .groupBy("host")
            .agg(F.array_sort(F.collect_list("url")).alias("_urls"))
            .select(
                "host",
                F.concat(
                    F.lit('<?xml version="1.0"?><urlset>'),
                    F.aggregate(
                        "_urls",
                        F.lit(""),
                        lambda acc, u: F.concat(acc, F.lit("<loc>"), u, F.lit("</loc>")),
                    ),
                    F.lit("<loc>https://"),
                    F.col("host"),
                    F.lit("/a&amp;b</loc></urlset>"),
                ).alias("body"),
            )
        )
        return parse_sitemap(sitemaps)

    def web_crawl_pipeline(spark, sf_dir):
        # the crawl front half as ONE declarative plan: UT1 blocklist
        # flags × robots verdict, conjoined per url — both dimension
        # probes broadcast, so the whole gate is map-side over the
        # crawl scan plus the robots verdict aggregate
        from pignlproc_spark.functions.urls import (
            blocklist_filter,
            host_col,
            parse_robots,
            robots_filter,
        )

        pages = synth.pages_for(spark, sf_dir)
        hosts = spark.createDataFrame(
            [("cc3.example",), ("cc7.example",)], "host string"
        )
        bl = blocklist_filter(
            pages, hosts, blocked_prefixes=("https://cc1.example/p/000",)
        )
        rob_hosts = (
            pages.select(host_col(F.col("url")).alias("host"))
            .distinct()
            .where(F.substring("host", 3, 1).isin(*"01234"))
        )
        rb = robots_filter(
            pages, parse_robots(rob_hosts.select("host", F.lit(ROBOTS_BODY).alias("body")))
        ).select("url", F.col("allow").alias("robots_allow"))
        return bl.join(rb, "url").select(
            "url",
            "host",
            "host_blocked",
            "prefix_blocked",
            "robots_allow",
            (F.col("keep") * F.col("robots_allow")).cast("int").alias("keep"),
        )

    def web_url_templates(spark, sf_dir):
        # URL template mining (digit runs in the path → {n}): the
        # template-level frontier budget / crawler-trap signal. Three
        # deterministic variants per crawled url (the original, a
        # two-number deep path, a static page) so templates genuinely
        # aggregate. Regex projection + one partial/final count
        from pignlproc_spark.functions.urls import host_col, url_templates

        pages = synth.pages_for(spark, sf_dir)
        pid = F.regexp_extract(F.col("url"), r"/p/([0-9]{7})", 1).cast("bigint")
        host = host_col(F.col("url"))
        deep = F.concat(
            F.lit("https://"), host, F.lit("/c"), (pid % 7).cast("string"),
            F.lit("/item-"), pid.cast("string"), F.lit("?ref=9"),
        )
        static = F.concat(F.lit("https://"), host, F.lit("/about"))
        urls = (
            pages.select(F.col("url").alias("u"))
            .unionByName(pages.select(deep.alias("u")))
            .unionByName(pages.select(static.alias("u")))
        )
        return url_templates(urls, url_col="u")

    def web_sitemap_routing(spark, sf_dir):
        # CCSitemap index routing: an index body's locs are CHILD
        # SITEMAPS (the fetcher's next hop), a urlset's locs are page
        # candidates — mis-routing an index floods the frontier with
        # xml urls. Root sniff + the same loc scan/entity decode, one
        # codegen projection per body
        from pignlproc_spark.functions.urls import host_col, parse_sitemap_routed

        pages = synth.pages_for(spark, sf_dir)
        hosts = pages.select(host_col(F.col("url")).alias("host")).distinct()
        idx = hosts.select(
            "host",
            F.concat(
                F.lit(SMI_WRAP[0]), F.col("host"),
                F.lit(SMI_WRAP[1]), F.col("host"), F.lit(SMI_WRAP[2]),
            ).alias("body"),
        )
        flat = hosts.select(
            "host",
            F.concat(
                F.lit(SMF_WRAP[0]), F.col("host"),
                F.lit(SMF_WRAP[1]), F.col("host"), F.lit(SMF_WRAP[2]),
            ).alias("body"),
        )
        return parse_sitemap_routed(idx.unionByName(flat))

    def web_frontier_gap(spark, sf_dir):
        # crawl-frontier maintenance: sitemap-discovered URLs that were
        # never crawled (anti-join on the canonical form). The sitemap
        # fixture plants exactly one uncrawled /a&b url per host.
        from pignlproc_spark.functions.urls import canonical_url_col

        pages = synth.pages_for(spark, sf_dir)
        discovered = web_sitemap_urls(spark, sf_dir).select(
            "host", canonical_url_col(F.col("loc")).alias("canonical_url")
        )
        crawled = pages.select(canonical_url_col(F.col("url")).alias("canonical_url")).distinct()
        return discovered.join(crawled, "canonical_url", "left_anti").select(
            "host", F.col("canonical_url").alias("to_crawl")
        )

    def web_link_graph(spark, sf_dir):
        # host-level link graph (the PageRank/frontier edge feed every
        # web corpus builds): CCLink v1 href scan over a deterministic
        # page per crawled URL, resolved against the page host, then
        # one (src_host, dst_host) count agg. Scan-side projection +
        # explode + single partial/final agg — the corpus never
        # shuffles at page granularity, only the host-pair edges do
        from pignlproc_spark.functions.urls import host_col, host_link_edges

        pages = synth.pages_for(spark, sf_dir)
        with_html = pages.select(
            "url",
            F.concat(
                F.lit(LINK_WRAP_PRE), host_col(F.col("url")), F.lit(LINK_WRAP_POST)
            ).alias("html"),
        )
        return host_link_edges(with_html)

    def web_hits_q(spark, sf_dir):
        # Kleinberg HITS over the host link graph in fixed-point
        # integer arithmetic (stats.hits_q, SCALE=1e6, max-normalized
        # — no sqrt, so 4 full iterations stay integer-exact and the
        # unrolled MATERIALIZED-CTE oracle hash-matches). Hub =
        # "links to good hosts" (directory/sitemap hosts), authority
        # = "linked from good hubs" — the crawl seed-quality pair
        # PageRank alone conflates. Edge table persisted once; each
        # half-step shuffles only (host, score) + a 1-row max
        from pignlproc_spark.operators import stats

        edges = web_link_graph(spark, sf_dir)
        return stats.hits_q(
            edges, src="src_host", dst="dst_host", weight="n_links", iterations=4
        ).select(F.col("node").alias("host"), "hub_q", "auth_q")

    def web_anchor_stats(spark, sf_dir):
        # (surface_form, target) anchor evidence — the web analogue of
        # pignlproc's names_and_entities pair counts, but harvested
        # from the CCLink v1 PAIRED element scan instead of wiki
        # markup: whole <a href>...</a> elements (nested-markup bodies
        # skipped per spec), href + normalized inner text projected
        # per element, one count agg. Entity ids repeat across pages
        # (pid % 97) so the counts genuinely aggregate; the boilerplate
        # anchor collapses every page into one ("read more", "/faq")
        # row, exercising whitespace normalization. Scan-side explode
        # + partial/final agg — pages never shuffle, only pairs do.
        from pignlproc_spark.functions.html import (
            anchor_elems_col,
            anchor_href_col,
            anchor_text_col,
        )

        pages = synth.pages_for(spark, sf_dir)
        ent = (
            F.regexp_extract(F.col("url"), r"/p/([0-9]{7})", 1).cast("bigint") % 97
        ).cast("string")
        html = F.concat(
            F.lit(ANCHOR_WRAP_PRE), ent, F.lit(ANCHOR_WRAP_MID), ent,
            F.lit(ANCHOR_WRAP_POST),
        )
        elems = pages.select(F.explode(anchor_elems_col(html)).alias("elem"))
        pairs = elems.select(
            anchor_text_col(F.col("elem")).alias("surface_form"),
            anchor_href_col(F.col("elem")).alias("target"),
        )
        return pairs.groupBy("surface_form", "target").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors")
        )

    def web_host_components(spark, sf_dir):
        # weakly-connected components of the host link graph — the
        # "site family" signal (mirror networks, shared-CMS clusters)
        # crawl budgeting and per-family dedup key on. Reuses the
        # alternating large-star/small-star machinery (Kiveris
        # SoCC'14) directly on string host ids; component id = min
        # host. Oracle = recursive-CTE reachability, hash-exact
        from pignlproc_spark.operators import dedup

        edges = web_link_graph(spark, sf_dir).where(
            F.col("src_host") != F.col("dst_host")
        )
        comps = dedup.connected_components(
            edges, src_col="src_host", dst_col="dst_host", out_type=None
        )
        return comps.select(
            F.col("doc_id").alias("host"), F.col("component_id").alias("component")
        )

    def web_trustrank_q(spark, sf_dir):
        # TrustRank (VLDB'04): PageRank whose teleport goes only to
        # trusted seed hosts (cc0/cc1), so trust decays with link
        # distance — the spam-demoting frontier scorer. Fixed-point
        # integers, per-edge floors before the sum ⇒ hash-matches the
        # unrolled MATERIALIZED-CTE oracle. Edge table persisted once;
        # per-iteration shuffle = the (host, trust_q) table only
        from pignlproc_spark.operators import stats

        edges = web_link_graph(spark, sf_dir)
        hosts = (
            edges.select(F.col("src_host").alias("node"))
            .union(edges.select(F.col("dst_host").alias("node")))
            .distinct()
        )
        seeds = hosts.where(F.substring("node", 3, 1).isin("0", "1"))
        out = stats.trustrank_q(
            edges, seeds, src="src_host", dst="dst_host",
            weight="n_links", iterations=3,
        )
        return out.select(F.col("node").alias("host"), "trust_q")

    def web_page_metadata(spark, sf_dir):
        # CCMeta v1 head-metadata bundle (the WAT record a crawl
        # pipeline keeps per page): title, rel="canonical" (both
        # attribute orders exercised), meta description/robots,
        # hreflang alternate count — all frozen-regex scans over the
        # comment-stripped document, one strip shared by all five.
        # Pure codegen'd projection: no shuffle, no Python — metadata
        # extraction runs at scan speed even at 100 TB
        from pignlproc_spark.functions.html import page_metadata
        from pignlproc_spark.functions.urls import host_col

        pages = synth.pages_for(spark, sf_dir)
        pid = F.regexp_extract(F.col("url"), r"/p/([0-9]{7})", 1).cast("bigint")
        host = host_col(F.col("url"))
        p = pid.cast("string")
        canon = F.when(
            pid % 2 == 0,
            F.concat(F.lit(META_CANON_KV[0]), host, F.lit("/c/"), p, F.lit(META_CANON_KV[1])),
        ).otherwise(
            F.concat(F.lit(META_CANON_VK[0]), host, F.lit("/c/"), p, F.lit(META_CANON_VK[1]))
        )
        desc = F.when(pid % 5 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit(META_DESC[0]), (pid % 7).cast("string"),
                F.lit(META_DESC[1]), host, F.lit(META_DESC[2]),
            )
        )
        robots = F.when(pid % 3 == 0, F.lit(META_ROBOTS_NOIDX)).otherwise(
            F.lit(META_ROBOTS_IDX)
        )
        hl = (
            F.when(pid % 4 == 1, F.lit(META_HL1))
            .when(pid % 4 == 2, F.lit(META_HL1 + META_HL2))
            .when(pid % 4 == 3, F.lit(META_HL1 + META_HL2 + META_HL3))
            .otherwise(F.lit(""))
        )
        html = F.concat(
            F.lit(META_WRAP_PRE), p, F.lit(META_TITLE_MID), host, F.lit("</title>"),
            canon, desc, robots, hl, F.lit(META_WRAP_POST),
        )
        out = page_metadata(pages.select("url", html.alias("html")))
        return out.select(
            "url", "title", "canonical", "description",
            F.col("noindex").cast("bigint").alias("noindex"), "n_hreflang",
        )

    def web_fetch_schedule(spark, sf_dir):
        # politeness scheduler — the step between frontier and fetcher:
        # per-host FIFO (url order; synth urls are zero-padded) split
        # into waves of 16 fetches, so one wave = one host-parallel
        # fetch round honoring per-host connection caps. Window is
        # partitioned BY HOST — at crawl scale each host's queue is
        # bounded (real frontiers cap it), so no global sort exists
        from pignlproc_spark.functions.urls import host_col
        from pyspark.sql import Window

        pages = synth.pages_for(spark, sf_dir)
        w = Window.partitionBy("host").orderBy("url")
        rn = F.row_number().over(w) - 1
        return pages.select(host_col(F.col("url")).alias("host"), "url").select(
            "host",
            "url",
            (rn / 16).cast("bigint").alias("fetch_wave"),
            (rn % 16).cast("bigint").alias("fetch_slot"),
        )

    def web_url_blocklist(spark, sf_dir):
        # UT1-style ban list: two whole hosts + one URL-prefix pattern,
        # applied as a broadcast host join + codegen'd prefix predicate
        from pignlproc_spark.functions.urls import blocklist_filter

        pages = synth.pages_for(spark, sf_dir)
        hosts = spark.createDataFrame(
            [("cc3.example",), ("cc7.example",)], "host string"
        )
        return blocklist_filter(
            pages, hosts, blocked_prefixes=("https://cc1.example/p/000",)
        )

    def web_url_dedup(spark, sf_dir):
        # crawl re-fetch dedup: every variant of the same canonical URL
        # collapses to one keeper (frozen: lexicographically-first
        # variant; a real crawl keys the same agg on min warc_ts).
        # Variants chosen to ACTUALLY collapse under CCUrl v1 (which
        # lowercases scheme+host but never path): fragment, trailing
        # slash, cased scheme+host (synth hosts have no path chars)
        from pignlproc_spark.functions.urls import canonical_url_col

        pages = synth.pages_for(spark, sf_dir)
        v = pages.select(
            F.explode(
                F.array(
                    F.col("url"),
                    F.concat(F.col("url"), F.lit("#frag")),
                    F.concat(F.col("url"), F.lit("/")),
                    # HTTPS://CC0.EXAMPLE/p/000… — cases only scheme+host
                    F.concat(
                        F.upper(F.substring_index(F.col("url"), "/p/", 1)),
                        F.lit("/p/"),
                        F.substring_index(F.col("url"), "/p/", -1),
                    ),
                )
            ).alias("variant")
        )
        return (
            v.select("variant", canonical_url_col(F.col("variant")).alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(
                F.min("variant").alias("keep_variant"),
                F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            )
        )

    def web_domain_stats(spark, sf_dir):
        from pignlproc_spark.functions.urls import host_col

        pages = synth.pages_for(spark, sf_dir)
        return (
            pages.select(host_col(F.col("url")).alias("host"), F.length("text").alias("_n"))
            .groupBy("host")
            .agg(
                F.count(F.lit(1)).alias("n_pages"),
                F.sum("_n").cast("bigint").alias("text_chars"),
            )
        )

    def web_domain_quota(spark, sf_dir):
        # per-host page cap (crawl curation: stop megasites dominating
        # a training mix) — at most 40 pages per host, deterministic
        # keep by url order; one host shuffle, no global sort
        from pignlproc_spark.functions.urls import domain_quota

        return domain_quota(synth.pages_for(spark, sf_dir), k=40)

    def events_sessionize(spark, sf_dir):
        # gap-based sessionization (30-min inactivity closes a session):
        # the batch form of a session window, via lag/cumsum — exact
        # ints, deterministic tie-break on (ts, event_id)
        from pyspark.sql import Window as W

        e = _read(spark, sf_dir, "events")
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        ep = F.unix_timestamp(F.col("ts")).cast("bigint")
        prev = F.lag(F.col("ts")).over(w)
        new_sess = F.when(
            prev.isNull() | (ep - F.unix_timestamp(prev).cast("bigint") > 1800), F.lit(1)
        ).otherwise(F.lit(0))
        sess = e.select("user_id", "ts", "event_id", ep.alias("_ep")).withColumn(
            "session_id", F.sum(new_sess).over(w).cast("bigint")
        )
        return sess.groupBy("user_id", "session_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_ep").alias("start_epoch"),
            F.max("_ep").alias("end_epoch"),
        )

    def docs_stratified_sample(spark, sf_dir):
        return textstats.stratified_sample(
            _read(spark, sf_dir, "documents"), rates_pct={"en": 50, "de": 20}, default_pct=5
        )

    def docs_global_token_stats(spark, sf_dir):
        return textstats.global_token_stats(_read(spark, sf_dir, "documents"))

    q.update(
        docs_mojibake_fix=docs_mojibake_fix,
        docs_history_dedup=docs_history_dedup,
        web_robots_filter=web_robots_filter,
        web_crawl_delays=web_crawl_delays,
        web_robots_sitemaps=web_robots_sitemaps,
        web_sitemap_urls=web_sitemap_urls,
        web_sitemap_routing=web_sitemap_routing,
        web_url_templates=web_url_templates,
        web_frontier_gap=web_frontier_gap,
        web_link_graph=web_link_graph,
        web_hits_q=web_hits_q,
        web_trustrank_q=web_trustrank_q,
        web_page_metadata=web_page_metadata,
        web_host_components=web_host_components,
        web_anchor_stats=web_anchor_stats,
        web_fetch_schedule=web_fetch_schedule,
        web_crawl_pipeline=web_crawl_pipeline,
        docs_readability=docs_readability,
        web_html_extract=web_html_extract,
        web_url_blocklist=web_url_blocklist,
        web_canonical_urls=web_canonical_urls,
        web_domain_stats=web_domain_stats,
        web_domain_quota=web_domain_quota,
        web_url_dedup=web_url_dedup,
        events_sessionize=events_sessionize,
        docs_stratified_sample=docs_stratified_sample,
        docs_global_token_stats=docs_global_token_stats,
    )

    # ---- sources: dump replay + NTriples (J1/J2/J4) ----
    def src_wikidump_index(spark, sf_dir):
        from pignlproc_spark.sources.wikidump import read_dump

        d = read_dump(spark, str(synth.generate(synth.sf_of_dir(sf_dir)) / "dump"))
        return d.select("title", "page_id", F.octet_length(F.encode("markup", "UTF-8")).cast("bigint").alias("markup_bytes"))

    def src_ntriples_redirects(spark, sf_dir):
        from pignlproc_spark.sources.ntriples import read_uri_uri

        p = synth.generate(synth.sf_of_dir(sf_dir))
        return read_uri_uri(spark, str(p / "nt" / "redirects.nt"), "http://dbpedia.org/ontology/wikiPageRedirects")

    def src_ntriples_abstracts(spark, sf_dir):
        from pignlproc_spark.sources.ntriples import read_uri_literal

        p = synth.generate(synth.sf_of_dir(sf_dir))
        return read_uri_literal(spark, str(p / "nt" / "abstracts.nt"), "http://dbpedia.org/ontology/abstract")

    def _warc_compare_cols(d):
        # byte-faithfulness projected to hashable exact columns
        return d.select(
            "url",
            F.unix_timestamp("warc_ts").cast("bigint").alias("ts_epoch"),
            F.col("http_status").cast("bigint").alias("http_status"),
            "content_type",
            F.octet_length("payload").cast("bigint").alias("payload_bytes"),
            F.md5("payload").alias("payload_md5"),
        )

    def src_warc_pages(spark, sf_dir):
        # binary .warc.gz replay (per-record gzip members, the CC
        # layout) — J1's splittable-archive role for the web-crawl
        # input model (SURVEY.md §1.3); parallelism is per file
        from pignlproc_spark.sources.warc import read_warc_gz

        p = synth.generate(synth.sf_of_dir(sf_dir))
        return _warc_compare_cols(read_warc_gz(spark, str(p / "warc")))

    def src_warc_cdx_replay(spark, sf_dir):
        # CDX-driven random access: each task seeks + inflates only its
        # own gzip members — the record-granular 100-TB path
        from pignlproc_spark.sources.warc import read_warc_gz_indexed

        p = synth.generate(synth.sf_of_dir(sf_dir))
        idx = spark.read.parquet(str(p / "golden_warc_cdx.parquet"))
        return _warc_compare_cols(
            read_warc_gz_indexed(spark, idx.select("path", "offset", "length"))
        )

    # ---- ner-corpus / topic-corpus analogues (SURVEY.md §2.3) ----
    def ner_typed_mention_counts(spark, sf_dir):
        from pignlproc_spark.operators.corpus import typed_mentions

        tm = typed_mentions(_pipeline(spark, sf_dir).mentions, _syn(spark, sf_dir, "entity_types"))
        return tm.groupBy("type", "uri").agg(F.count(F.lit(1)).alias("cnt"))

    def topic_grounded(spark, sf_dir):
        from pignlproc_spark.operators.corpus import grounded_topics

        return grounded_topics(_syn(spark, sf_dir, "article_categories"), min_articles=3)

    def topic_broader_closure(spark, sf_dir):
        from pignlproc_spark.operators.corpus import broader_closure

        return broader_closure(_syn(spark, sf_dir, "skos_broader"))

    def topic_abstracts(spark, sf_dir):
        from pignlproc_spark.operators.corpus import topic_abstract_corpus

        return topic_abstract_corpus(
            _syn(spark, sf_dir, "article_categories"), _syn(spark, sf_dir, "abstracts"), min_articles=3
        )

    def kg_context_docs(spark, sf_dir):
        # J8 AggregateTextBag: one context document per entity (sorted
        # variant for the oracle; the salted two-phase variant is
        # multiset-equivalent — tests/test_training_ops.py asserts it)
        m = _pipeline(spark, sf_dir).mentions
        return m.groupBy("uri").agg(
            F.concat_ws(" ", F.sort_array(F.collect_list("context"))).alias("doc")
        )

    def cogroup_sf_stats(spark, sf_dir):
        # P17 COGROUP analogue: align per-sf mention stats with the
        # per-sf dictionary via full-outer join of two groupings
        m = _pipeline(spark, sf_dir).pair_counts.groupBy("surface_form").agg(
            F.count(F.lit(1)).alias("n_uris"), F.sum("cnt").cast("bigint").alias("n_mentions")
        )
        d = (
            _syn(spark, sf_dir, "surface_forms")
            .groupBy("surface_form")
            .agg(F.count(F.lit(1)).alias("n_candidates"))
        )
        j = m.alias("m").join(d.alias("d"), "surface_form", "full")
        return j.select(
            "surface_form",
            F.coalesce(F.col("n_uris"), F.lit(0)).cast("bigint").alias("n_uris"),
            F.coalesce(F.col("n_mentions"), F.lit(0)).cast("bigint").alias("n_mentions"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint").alias("n_candidates"),
        )

    def events_json_native(spark, sf_dir):
        e = _read(spark, sf_dir, "events")
        k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
        return e.groupBy("event_type").agg(F.sum(k).cast("bigint").alias("sum_k"), F.count(F.lit(1)).alias("cnt"))

    q.update(
        src_wikidump_index=src_wikidump_index,
        src_ntriples_redirects=src_ntriples_redirects,
        src_ntriples_abstracts=src_ntriples_abstracts,
        src_warc_pages=src_warc_pages,
        src_warc_cdx_replay=src_warc_cdx_replay,
        ner_typed_mention_counts=ner_typed_mention_counts,
        topic_grounded=topic_grounded,
        topic_broader_closure=topic_broader_closure,
        topic_abstracts=topic_abstracts,
        kg_context_docs=kg_context_docs,
        cogroup_sf_stats=cogroup_sf_stats,
        events_json_native=events_json_native,
    )

    # ---- rows-only checks (non-SQL-expressible / float paths) ----
    def media_features(spark, sf_dir):
        return multimodal.extract_media_features(multimodal.fake_media_df(spark, 64)).drop("feature")

    def media_stats_real(spark, sf_dir):
        # REAL dependency-free BMP/PNG/JPEG/WAV decode → integer-exact stats;
        # undecodable payloads (the video rows) degrade to decoded=0
        # with -1 fills instead of killing the job
        p = synth.generate(synth.sf_of_dir(sf_dir))
        m = spark.read.parquet(str(p / "media.parquet"))
        s = multimodal.media_stats(m.select("url", "kind", "payload"))
        ints = ["n_bytes", "decoded", "width", "height", "n_pixels", "sum_r", "sum_g",
                "sum_b", "sample_rate", "n_samples", "sum_abs", "zero_crossings"]
        return s.select(
            "url", "kind",
            *[F.coalesce(F.col(c), F.lit(-1)).cast("bigint").alias(c) for c in ints],
        )

    def media_audio_frames(spark, sf_dir):
        # CCAudioFrames v1: windowed per-frame integer features over
        # the REAL WAV decode (frame 32 / hop 16, channel 0); golden
        # computed from the plan's sample list by an independent
        # pure-python path
        p = synth.generate(synth.sf_of_dir(sf_dir))
        m = spark.read.parquet(str(p / "media.parquet"))
        s = multimodal.audio_frames(m.select("url", "kind", "payload"))
        return s.select(
            "url",
            F.col("frame_idx").cast("bigint").alias("frame_idx"),
            F.col("frame_start").cast("bigint").alias("frame_start"),
            "energy", "sum_abs", "zero_crossings", "peak",
        )

    def media_dhash(spark, sf_dir):
        # CCDHash v1 perceptual hash over the REAL decodes (BMP / PNG /
        # JPEG, baseline + progressive); golden computed from the plan pixels by an
        # independent pure-python path — identical pixels in different
        # containers hash identically (the planted cross-format twins)
        p = synth.generate(synth.sf_of_dir(sf_dir))
        m = spark.read.parquet(str(p / "media.parquet"))
        return multimodal.image_dhash(m.select("url", "kind", "payload"))

    def media_dhash_pairs(spark, sf_dir):
        # perceptual image near-dup retrieval: 4x16-bit pigeonhole
        # banding (perfect recall at hamming<=3) + exact bit_count
        # verify — the SimHash shape applied to image payloads
        p = synth.generate(synth.sf_of_dir(sf_dir))
        m = spark.read.parquet(str(p / "media.parquet"))
        return multimodal.dhash_near_duplicates(
            m.select("url", "kind", "payload"), max_hamming=3
        )

    def ner_opennlp_sentences(spark, sf_dir):
        from pignlproc_spark.operators.corpus import ner_training_sentences

        return ner_training_sentences(_pipeline(spark, sf_dir).mentions, _syn(spark, sf_dir, "entity_types"))

    def kg_paragraph_contexts(spark, sf_dir):
        # J7 ParagraphsWithLink, full granularity — exact vs the
        # generator's independent paragraph-mention golden
        from pignlproc_spark.operators.mentions import extract_mentions

        pages = synth.pages_for(spark, sf_dir)
        red = _syn(spark, sf_dir, "redirects")
        m = extract_mentions(pages, red, granularity="paragraph")
        return m.groupBy("url", "context", "surface_form", "uri").agg(F.count(F.lit(1)).alias("cnt"))

    q.update(
        docs_minhash_sigs=docs_minhash_sigs,
        docs_minhash_wide=docs_minhash_wide,
        docs_lsh_pairs=docs_lsh_pairs,
        docs_dedup_clusters=docs_dedup_clusters,
        docs_dedup_keep=docs_dedup_keep,
        docs_repetition=docs_repetition,
        docs_curation_pipeline=docs_curation_pipeline,
        kg_entity_cooccurrence=kg_entity_cooccurrence,
        kg_entity_pagerank=kg_entity_pagerank,
        docs_jaccard_pairs=docs_jaccard_pairs,
        docs_rarity_score=docs_rarity_score,
        docs_mix_corpus=docs_mix_corpus,
        docs_mix_temperature=docs_mix_temperature,
        docs_quality_gate=docs_quality_gate,
        docs_tfidf_topk=docs_tfidf_topk,
        docs_quality_classifier=docs_quality_classifier,
        docs_lang_id=docs_lang_id,
        docs_quality=docs_quality,
        docs_fingerprint=docs_fingerprint,
        docs_token_counts=docs_token_counts,
        docs_bpe_pieces=docs_bpe_pieces,
        docs_corpus_filter=docs_corpus_filter,
        media_features=media_features,
        media_stats_real=media_stats_real,
        media_audio_frames=media_audio_frames,
        media_dhash=media_dhash,
        media_dhash_pairs=media_dhash_pairs,
        ner_opennlp_sentences=ner_opennlp_sentences,
        kg_paragraph_contexts=kg_paragraph_contexts,
    )

    # ---- training-data ops, continued session 2 ----
    def docs_pack_sequences(spark, sf_dir):
        # concat-and-chunk LLM sequence packing (512-piece sequences,
        # 8 shards — one shard ≈ one output file at scale)
        return textstats.pack_sequences(_read(spark, sf_dir, "documents"), capacity=512, shards=8)

    def docs_length_quantiles(spark, sf_dir):
        # exact per-language p50/p90/p99 of token counts
        return textstats.length_quantiles(_read(spark, sf_dir, "documents"))

    def docs_contamination_spans(spark, sf_dir):
        # span-granular decontamination: WHERE the eval overlap sits
        d = _read(spark, sf_dir, "documents")
        return dedup.contamination_spans(
            d.where(F.col("doc_id") % 5 != 0), d.where(F.col("doc_id") % 5 == 0), n=8
        )

    def docs_strip_contamination(spark, sf_dir):
        # the transform half: cut the leaked spans, keep the docs
        d = _read(spark, sf_dir, "documents")
        return dedup.strip_contaminated_spans(
            d.where(F.col("doc_id") % 5 != 0), d.where(F.col("doc_id") % 5 == 0), n=8
        )

    def kg_link_prediction(spark, sf_dir):
        # KG-completion scoring: top-k missing-edge candidates per
        # entity, common-neighbor + integer resource-allocation
        # (Σ 10⁶ DIV deg over common neighbors — exact both engines)
        from pignlproc_spark.operators import stats

        return stats.link_prediction(_pipeline(spark, sf_dir).mentions, k=5)

    def events_rollup(spark, sf_dir):
        # ROLLUP grouping sets on (event_type, hour): subtotals + grand
        # total in ONE pass (Spark expands grouping sets into a single
        # partial/final aggregate — no N scans). NULL group keys are
        # coalesced to sentinels so the int column stays NaN-free for
        # the cross-engine hash; gid disambiguates real vs subtotal.
        e = _read(spark, sf_dir, "events").select(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint").alias("hour_epoch"),
            F.floor(F.col("value") * 100).cast("bigint").alias("_v"),
        )
        return (
            e.rollup("event_type", "hour_epoch")
            .agg(
                F.grouping_id().cast("bigint").alias("gid"),
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum("_v").cast("bigint").alias("value_c_sum"),
            )
            .select(
                F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                F.coalesce("hour_epoch", F.lit(-1)).cast("bigint").alias("hour_epoch"),
                "gid",
                "cnt",
                "value_c_sum",
            )
        )

    def events_pivot(spark, sf_dir):
        # pivot to wide per-user counts; the value list is EXPLICIT
        # (open-ended pivot needs a distinct-scan planning pass and an
        # unbounded-width row — never do that on 100 TB)
        types = ["click", "view", "error", "signup", "purchase"]
        e = _read(spark, sf_dir, "events")
        wide = e.groupBy("user_id").pivot("event_type", types).count()
        return wide.select(
            "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in types]
        )

    def events_unpivot(spark, sf_dir):
        # unpivot/melt — the inverse of events_pivot: the SAME wide
        # matrix (reused so the two queries cannot drift apart) back to
        # long (user_id, event_type, cnt). A pure Expand-style
        # projection fanout, no shuffle beyond the upstream pivot
        # aggregation; zero cells dropped to keep the long form sparse
        types = ["click", "view", "error", "signup", "purchase"]
        wide = events_pivot(spark, sf_dir)
        return wide.unpivot("user_id", types, "event_type", "cnt").where(F.col("cnt") > 0)

    def kg_sf_fuzzy_pairs(spark, sf_dir):
        # fuzzy surface-form matching with BLOCKING: candidate pairs
        # come from an equi-join on (first char, length bucket) — never
        # a cartesian — then exact levenshtein <= 2 verifies. The
        # classic fuzzy-dedup shape (typo'd aliases of the same name)
        sf = synth.side_table(spark, sf_dir, "surface_forms").select("surface_form").distinct()
        b = sf.select(
            "surface_form",
            F.substring("surface_form", 1, 1).alias("_blk"),
            (F.length("surface_form") / 4).cast("int").alias("_lb"),
        )
        a2 = b.select(F.col("surface_form").alias("sf_a"), "_blk", "_lb")
        b2 = b.select(F.col("surface_form").alias("sf_b"), "_blk", "_lb")
        return (
            a2.join(b2, ["_blk", "_lb"])
            .where(F.col("sf_a") < F.col("sf_b"))
            .select(
                "sf_a",
                "sf_b",
                F.levenshtein("sf_a", "sf_b").cast("bigint").alias("edit_dist"),
            )
            .where(F.col("edit_dist") <= 2)
        )

    def events_running_window(spark, sf_dir):
        # window-frame suite per user ordered by (ts, event_id):
        # running count, 3-row sliding count, lag with -1 fill — all
        # over ONE partitioning (one shuffle serves every frame)
        from pyspark.sql import Window as W

        e = _read(spark, sf_dir, "events").select(
            "event_id", "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
        )
        w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
        return e.select(
            "event_id",
            "user_id",
            F.row_number().over(w).cast("bigint").alias("run_cnt"),
            F.count(F.lit(1)).over(w.rowsBetween(-2, 0)).cast("bigint").alias("w3_cnt"),
            F.coalesce(F.lag("event_id").over(w), F.lit(-1)).cast("bigint").alias("prev_event_id"),
        )

    def events_value_ntile(spark, sf_dir):
        # equi-height binning (data-quartile assignment within each
        # event type) — ntile over the same one-shuffle window
        # discipline; deterministic via the (value_c, event_id) total
        # order, exact-int output
        from pyspark.sql import Window as W

        e = _read(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("value_c"),
        )
        w = W.partitionBy("event_type").orderBy("value_c", "event_id")
        return e.select(
            "event_id",
            "event_type",
            "value_c",
            F.ntile(4).over(w).cast("int").alias("quartile"),
        )

    def tpch_customers_no_orders(spark, sf_dir):
        # anti-join (NOT EXISTS): the null-safe set-difference join
        # Pig scripts emulate with outer-join + null filter; left_anti
        # keeps it one shuffle with no null-handling footgun
        c = _read(spark, sf_dir, "customer")
        o = (
            _read(spark, sf_dir, "orders")
            .where(F.col("o_totalprice") >= 300000)
            .select(F.col("o_custkey").alias("c_custkey"))
        )
        return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name")

    def tpch_set_ops(spark, sf_dir):
        # INTERSECT / EXCEPT (distinct set semantics): custkeys with
        # both a high- and a low-priced order, tagged, unioned with
        # those having high- but never low-priced orders
        o = _read(spark, sf_dir, "orders")
        hi = o.where(F.col("o_totalprice") >= 200000).select("o_custkey")
        lo = o.where(F.col("o_totalprice") < 50000).select("o_custkey")
        both = hi.intersect(lo).select("o_custkey", F.lit("both").alias("tag"))
        only_hi = hi.subtract(lo).select("o_custkey", F.lit("hi_only").alias("tag"))
        return both.unionByName(only_hi)

    def tpch_customers_with_big_orders(spark, sf_dir):
        # semi-join (EXISTS): one shuffle, no duplicate blow-up — the
        # probe side never multiplies however many orders match
        c = _read(spark, sf_dir, "customer")
        o = (
            _read(spark, sf_dir, "orders")
            .where(F.col("o_totalprice") >= 300000)
            .select(F.col("o_custkey").alias("c_custkey"))
        )
        return c.join(o, "c_custkey", "left_semi").select("c_custkey", "c_name")

    def tpch_set_ops_all(spark, sf_dir):
        # INTERSECT ALL / EXCEPT ALL (multiset semantics — occurrence
        # counts matter): order-priority bags per price band
        o = _read(spark, sf_dir, "orders")
        hi = o.where(F.col("o_totalprice") >= 200000).select("o_orderpriority")
        lo = o.where(F.col("o_totalprice") < 50000).select("o_orderpriority")
        inter = hi.intersectAll(lo).select("o_orderpriority", F.lit("inter_all").alias("tag"))
        exc = hi.exceptAll(lo).select("o_orderpriority", F.lit("except_all").alias("tag"))
        return inter.unionByName(exc)

    def events_user_mode(spark, sf_dir):
        # per-group mode with frozen (cnt DESC, type ASC) tie-break
        from pyspark.sql import Window as W

        e = _read(spark, sf_dir, "events")
        c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        w = W.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type").asc())
        return (
            c.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("top_event_type"), "cnt")
        )

    def docs_positional_index(spark, sf_dir):
        # positional inverted index; the driver-checkable projection
        # keeps exact ints (full positions array covered by pytest)
        idx = textstats.positional_index(_read(spark, sf_dir, "documents"))
        return idx.select(
            "token",
            "doc_id",
            "tf",
            F.element_at("positions", 1).cast("bigint").alias("first_pos"),
            F.element_at("positions", -1).cast("bigint").alias("last_pos"),
        )

    def docs_collocations(spark, sf_dir):
        return textstats.collocations(_read(spark, sf_dir, "documents"), min_count=2, k=100)

    def events_grouping_sets(spark, sf_dir):
        # explicit GROUPING SETS ((event_type), (day), ()) — the two
        # marginals + grand total WITHOUT the (type, day) cells a CUBE
        # would also produce; still ONE Expand pass over the scan
        e = _read(spark, sf_dir, "events").select(
            "event_type",
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).cast("bigint").alias("day_epoch"),
            F.floor(F.col("value") * 100).cast("bigint").alias("_v"),
        )
        return (
            e.groupingSets([["event_type"], ["day_epoch"], []], "event_type", "day_epoch")
            .agg(
                F.grouping_id().cast("bigint").alias("gid"),
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum("_v").cast("bigint").alias("value_c_sum"),
            )
            .select(
                F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                F.coalesce("day_epoch", F.lit(-1)).cast("bigint").alias("day_epoch"),
                "gid",
                "cnt",
                "value_c_sum",
            )
        )

    def events_cube(spark, sf_dir):
        # CUBE grouping sets on (event_type, day): all four group-by
        # combinations in ONE Expand pass over the scan (no 4 scans, no
        # union); sentinel-coalesced keys + grouping_id as in rollup
        e = _read(spark, sf_dir, "events").select(
            "event_type",
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).cast("bigint").alias("day_epoch"),
            F.floor(F.col("value") * 100).cast("bigint").alias("_v"),
        )
        return (
            e.cube("event_type", "day_epoch")
            .agg(
                F.grouping_id().cast("bigint").alias("gid"),
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum("_v").cast("bigint").alias("value_c_sum"),
            )
            .select(
                F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                F.coalesce("day_epoch", F.lit(-1)).cast("bigint").alias("day_epoch"),
                "gid",
                "cnt",
                "value_c_sum",
            )
        )

    def docs_phrase_search(spark, sf_dir):
        # exact consecutive-token phrase query ("fast batch merge"):
        # one posexplode + one window pass per doc (lead per offset) —
        # a single doc_id shuffle, no per-term self-joins
        return textstats.phrase_search(
            _read(spark, sf_dir, "documents"), ["fast", "batch", "merge"]
        )

    def docs_bm25_topk(spark, sf_dir):
        # BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 4-term
        # query (one rare + three common tokens of this corpus);
        # per-term 1e-6 quantization BEFORE the per-doc sum keeps the
        # hashed score an exact integer sum across engines
        return textstats.bm25_topk(
            _read(spark, sf_dir, "documents"), ["dup", "hash", "merge", "spark"], k=20
        )

    def docs_novelty(spark, sf_dir):
        # corpus-order 3-gram novelty: distinct grams first seen in
        # this doc (min doc_id over the corpus) — the diversity signal
        # dedup can't express (remixed docs score low while passing
        # near-dup); exact integers, gram-level two-phase aggregate
        return textstats.novelty_score(_read(spark, sf_dir, "documents"), n=3)

    def docs_line_dedup(spark, sf_dir):
        # CCNet-style corpus-wide line dedup: the documents table is
        # single-line, so plant the classic repeat-offenders — two
        # boilerplate lines identical on EVERY page (cookie banner,
        # footer); only the minimum doc keeps them, every body line
        # survives untouched
        d = _read(spark, sf_dir, "documents")
        planted = d.withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit("\ncookie banner accept all cookies\nfooter nav copyright 2024"),
            ),
        )
        return textstats.line_dedup(planted)

    def docs_surprisal(spark, sf_dir):
        # CCNet perplexity surrogate: mean self-information under the
        # corpus's own unigram model (quantize-per-term-then-int-sum,
        # the BM25 float contract); high = noise tail, low =
        # boilerplate tail
        return textstats.unigram_surprisal(_read(spark, sf_dir, "documents"))

    def docs_bigram_surprisal(spark, sf_dir):
        # conditional add-one bigram NLL — the token-ORDER quality
        # signal (shuffled text scores high here, unchanged for
        # unigrams); same quantize-then-int-sum contract
        return textstats.bigram_surprisal(_read(spark, sf_dir, "documents"))

    def docs_dsir_weights(spark, sf_dir):
        # DSIR importance resampling (Xie et al., NeurIPS'23): weight
        # every document toward the English subset's hashed-n-gram
        # distribution — lang='en' is the stand-in target corpus
        d = _read(spark, sf_dir, "documents")
        return textstats.dsir_logweights(d, d.where(F.col("lang") == "en"))

    def docs_pii_scrub(spark, sf_dir):
        # PII redaction (CCPii v1: emails, IPv4, SSN-shaped ids,
        # +international phones) — the documents table carries no PII,
        # so plant one of each deterministically from doc_id; the
        # oracle plants identically and must scrub identically
        d = _read(spark, sf_dir, "documents")
        planted = d.withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(" Contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or +1 555-0"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit(" from 192.168."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1 id 123-45-6789."),
            ),
        )
        return textstats.pii_scrub(planted)

    def docs_chunk_windows(spark, sf_dir):
        # overlapping token-window chunking (RAG / fine-tuning cut):
        # 128-token chunks every 96 tokens, md5 chunk ids
        return textstats.chunk_token_windows(
            _read(spark, sf_dir, "documents"), window=128, stride=96
        )

    def kg_incremental_merge(spark, sf_dir):
        # CDC latest-wins merge: a deterministic md5-bucketed change
        # log (20% upserts at version 1, 20% deletes at version 2)
        # applied to the standing triples via triples.merge_snapshot;
        # the oracle computes the closed-form merged snapshot
        from pignlproc_spark.operators.triples import merge_snapshot

        base = _pipeline(spark, sf_dir).triples
        h = (
            F.conv(
                F.substring(F.md5(F.concat_ws("|", "subj", "pred", "obj").cast("binary")), 1, 4),
                16,
                10,
            ).cast("bigint")
            % 10
        )
        t = base.withColumn("h", h)
        ups = t.where(F.col("h") < 2).select(
            "subj",
            "pred",
            "obj",
            (F.col("weight") + 1000).cast("long").alias("weight"),
            F.lit(1).cast("bigint").alias("version"),
            F.lit("U").alias("op"),
        )
        dels = t.where(F.col("h").isin(2, 3)).select(
            "subj",
            "pred",
            "obj",
            F.lit(0).cast("long").alias("weight"),
            F.lit(2).cast("bigint").alias("version"),
            F.lit("D").alias("op"),
        )
        return merge_snapshot(base, ups.unionByName(dels), keys=["subj", "pred", "obj"])

    q.update(
        docs_chunk_windows=docs_chunk_windows,
        kg_incremental_merge=kg_incremental_merge,
        docs_novelty=docs_novelty,
        docs_surprisal=docs_surprisal,
        docs_bigram_surprisal=docs_bigram_surprisal,
        docs_dsir_weights=docs_dsir_weights,
        docs_line_dedup=docs_line_dedup,
        docs_pii_scrub=docs_pii_scrub,
        docs_pack_sequences=docs_pack_sequences,
        docs_length_quantiles=docs_length_quantiles,
        docs_contamination_spans=docs_contamination_spans,
        docs_strip_contamination=docs_strip_contamination,
        kg_link_prediction=kg_link_prediction,
        tpch_customers_no_orders=tpch_customers_no_orders,
        tpch_set_ops=tpch_set_ops,
        tpch_set_ops_all=tpch_set_ops_all,
        tpch_customers_with_big_orders=tpch_customers_with_big_orders,
        events_rollup=events_rollup,
        events_pivot=events_pivot,
        events_running_window=events_running_window,
        events_unpivot=events_unpivot,
        kg_sf_fuzzy_pairs=kg_sf_fuzzy_pairs,
        events_value_ntile=events_value_ntile,
        events_user_mode=events_user_mode,
        docs_positional_index=docs_positional_index,
        docs_collocations=docs_collocations,
        events_cube=events_cube,
        events_grouping_sets=events_grouping_sets,
        docs_phrase_search=docs_phrase_search,
        docs_bm25_topk=docs_bm25_topk,
    )

    def docs_count_of_counts(spark, sf_dir):
        # Good-Turing frequency-of-frequencies of the vocabulary +
        # r* = (r+1)·n_{r+1}/n_r quantized ×1000 (exact integer DIV,
        # DECIMAL intermediates both engines)
        return textstats.count_of_counts(_read(spark, sf_dir, "documents"))

    def docs_vocab_growth(spark, sf_dir):
        # Heaps-law vocabulary-growth curve in 50-doc buckets (the
        # driver corpus is 500-5000 docs; production picks bucket_docs
        # so the bucket table stays thousands of rows):
        # new types = tokens whose smallest containing doc_id falls in
        # the bucket; cumulative window runs over the bucket table only
        return textstats.vocab_growth(_read(spark, sf_dir, "documents"), bucket_docs=50)

    def web_host_split(spark, sf_dir):
        # leakage-safe train/valid/test assignment at host granularity
        # (split = frozen md5 bucket of the host string; 80/10/10)
        from pignlproc_spark.functions.urls import host_split

        return host_split(synth.pages_for(spark, sf_dir), train_pct=80, valid_pct=10)

    q.update(
        docs_count_of_counts=docs_count_of_counts,
        docs_vocab_growth=docs_vocab_growth,
        web_host_split=web_host_split,
    )
    return q


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def url_canonical_sql(src: str) -> str:
    """(variant, canonical_url, host) from a relation with a ``variant``
    column — the DuckDB side of the frozen CCUrl v1 spec
    (functions/urls.py). Shared by the driver oracle and the
    differential fuzz test so the two cannot drift apart."""
    return f"""
    SELECT variant,
      CASE WHEN scheme = '' OR host0 = '' THEN u
           ELSE scheme || '://' ||
                CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                     WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                     ELSE host0 END || path || query END AS canonical_url,
      host0 AS host
    FROM (
      SELECT variant, trim(variant) AS u,
        lower(regexp_extract(trim(variant), '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(trim(variant), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host0,
        regexp_replace(regexp_extract(trim(variant), '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
        regexp_replace(regexp_extract(trim(variant), '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+[^?#]*(\\?[^#]*)', 1), '^\\?$', '') AS query
      FROM {src}
    )
    """


def _robots_tagged_sql(pages_rel: str) -> str:
    """The shared CCRobots v1 CTE fragment (hosts → fixture bodies →
    lines → kv → tagged-with-group_start); consumed by
    robots_verdict_sql and robots_delay_sql. No WITH keyword — splice
    into the caller's chain."""
    return f"""hosts AS (
      SELECT DISTINCT lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host
      FROM {pages_rel}
    ), rob AS (
      SELECT host, '{ROBOTS_BODY}' AS body FROM hosts WHERE substr(host, 3, 1) IN ('0','1','2','3','4')
    ), lines AS (
      SELECT host, u.i AS line_no, trim(regexp_replace(u.line, '#.*$', '')) AS line FROM (
        SELECT host, unnest(list_transform(range(1, len(L) + 1), i -> {{'i': i, 'line': L[i]}})) AS u
        FROM (SELECT host, regexp_split_to_array(body, '\r?\n') AS L FROM rob)
      )
    ), kv AS (
      SELECT * FROM (
        SELECT host, line_no,
               lower(trim(regexp_extract(line, '^([A-Za-z-]+):', 1))) AS key,
               trim(regexp_extract(line, '^[A-Za-z-]+:(.*)$', 1)) AS value
        FROM lines
      ) WHERE key <> ''
    ), tagged AS (
      SELECT host, line_no, key, value,
             last_value(ua_start IGNORE NULLS) OVER (PARTITION BY host ORDER BY line_no) AS group_start
      FROM (
        SELECT *, CASE WHEN key = 'user-agent'
                            AND lag(key) OVER (PARTITION BY host ORDER BY line_no) = 'user-agent'
                       THEN NULL
                       WHEN key = 'user-agent' THEN line_no END AS ua_start
        FROM kv
      )
    )"""


def robots_delay_sql(pages_rel: str) -> str:
    """(host, crawl_delay_s) — the DuckDB side of robots_crawl_delay:
    integer-seconds Crawl-delay of the * groups, MAX per host."""
    return f"""
    WITH {_robots_tagged_sql(pages_rel)}, starred AS (
      SELECT r.host, CAST(r.value AS BIGINT) AS d
      FROM tagged r
      WHERE r.key = 'crawl-delay' AND regexp_full_match(r.value, '[0-9]{{1,18}}')
        AND r.group_start IS NOT NULL
        AND EXISTS (
          SELECT 1 FROM tagged a
          WHERE a.key = 'user-agent' AND lower(a.value) = '*'
            AND a.host = r.host AND a.group_start = r.group_start
        )
    )
    SELECT host, max(d)::BIGINT AS crawl_delay_s FROM starred GROUP BY host
    """


def robots_sitemaps_sql(pages_rel: str) -> str:
    """(host, sitemap_url) — the DuckDB side of robots_sitemaps:
    group-independent Sitemap: directives, case-kept values."""
    return f"""
    WITH {_robots_tagged_sql(pages_rel)}
    SELECT DISTINCT host, value AS sitemap_url FROM tagged
    WHERE key = 'sitemap' AND value != ''
    """


def robots_verdict_sql(pages_rel: str) -> str:
    """(url, host, allow, matched_prefix) — the DuckDB side of the
    CCRobots v1 parse + RFC 9309 verdict over ``pages_rel``; shared by
    web_robots_filter and the composed web_crawl_pipeline oracle."""
    return f"""
    WITH {_robots_tagged_sql(pages_rel)}, starred AS (
      SELECT r.host, (r.key = 'allow')::INT AS allow, r.value AS path_prefix
      FROM tagged r
      WHERE r.key IN ('allow', 'disallow') AND r.value != '' AND r.group_start IS NOT NULL
        AND EXISTS (
          SELECT 1 FROM tagged a
          WHERE a.key = 'user-agent' AND lower(a.value) = '*'
            AND a.host = r.host AND a.group_start = r.group_start
        )
    ), ph AS (
      SELECT url,
             lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
             CASE WHEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) = ''
                  THEN '/' ELSE regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) END AS path
      FROM {pages_rel}
    ), best AS (
      SELECT ph.url, ph.host,
             max(CASE WHEN s.path_prefix IS NOT NULL AND starts_with(ph.path, s.path_prefix)
                      THEN {{'plen': length(s.path_prefix), 'allow': s.allow, 'prefix': s.path_prefix}}
                 END) AS b
      FROM ph LEFT JOIN starred s USING (host)
      GROUP BY ph.url, ph.host
    )
    SELECT url, host, coalesce(b.allow, 1)::INT AS allow, b.prefix AS matched_prefix FROM best
    """


def blocklist_sql(pages_rel: str) -> str:
    """(url, host, host_blocked, prefix_blocked, keep) — the DuckDB side
    of the web_url_blocklist fixture; shared with web_crawl_pipeline."""
    return f"""
    SELECT url, host,
           (host IN ('cc3.example', 'cc7.example'))::INT AS host_blocked,
           starts_with(url, 'https://cc1.example/p/000')::INT AS prefix_blocked,
           (1 - greatest((host IN ('cc3.example', 'cc7.example'))::INT,
                         starts_with(url, 'https://cc1.example/p/000')::INT))::INT AS keep
    FROM (
      SELECT url, lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host
      FROM {pages_rel}
    )
    """


def sitemap_locs_sql(pages_rel: str) -> str:
    """(host, loc, n_locs) — the DuckDB side of the CCSitemap v1
    round-trip fixture; shared by web_sitemap_urls and the frontier
    gap oracle."""
    return f"""
    WITH ph AS (
      SELECT lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host, url
      FROM {pages_rel}
    ), sm AS (
      SELECT host,
             '<?xml version="1.0"?><urlset>'
             || string_agg('<loc>' || url || '</loc>', '' ORDER BY url)
             || '<loc>https://' || host || '/a&amp;b</loc></urlset>' AS body
      FROM ph GROUP BY host
    ), raw AS (
      SELECT host, unnest(regexp_extract_all(body, '<loc>([^<]*)</loc>', 1)) AS raw_loc FROM sm
    )
    SELECT host,
           trim(replace(replace(replace(replace(replace(raw_loc,
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&')) AS loc,
           count(*) OVER (PARTITION BY host) AS n_locs
    FROM raw
    """

def _tok_sql(col: str, stop: bool) -> str:
    base = f"regexp_extract_all(lower({col}), '{TOKEN_RE_SQL}')"
    filt = f"list_filter({base}, t -> length(t) <= 64)"
    if stop:
        return f"list_filter({filt}, t -> NOT list_contains({STOPWORDS_SQL}, t))"
    return filt


def _langid_sql() -> str:
    from pignlproc_spark.operators.textstats import LANG_MARKERS, SUBSTRING_LANGS

    pieces = []
    for lang, m in LANG_MARKERS.items():
        if lang in SUBSTRING_LANGS:
            pieces.append(
                "(" + " + ".join(f"CASE WHEN contains(_lower, '{mk}') THEN 1 ELSE 0 END" for mk in m) + f") AS h_{lang}"
            )
        else:
            pieces.append("len(list_intersect(_t, ['" + "','".join(m) + f"'])) AS h_{lang}")
    hits_cols = ", ".join(pieces)
    best_lang, best_hits = "'und'", "0"
    for lang in sorted(LANG_MARKERS):
        best_lang = f"CASE WHEN h_{lang} > {best_hits} THEN '{lang}' ELSE {best_lang} END"
        best_hits = f"CASE WHEN h_{lang} > ({best_hits}) THEN h_{lang} ELSE ({best_hits}) END"
    return f"""
    WITH toks AS (
      SELECT doc_id, lower(text) AS _lower,
             list_distinct({_tok_sql('text', stop=False)}) AS _t FROM documents
    ), hits AS (
      SELECT doc_id, {hits_cols} FROM toks
    )
    SELECT doc_id::BIGINT AS doc_id, {best_lang} AS lang_pred, ({best_hits})::BIGINT AS marker_hits FROM hits
    """


def _minhash_sql(bands: int = 4) -> str:
    # 32-bit lanes of ceil(bands/4) keyed md5s per shingle (matches
    # operators/dedup.py: digest 0 = md5(shingle), digest g>=1 =
    # md5(g || chr(31) || shingle); band i -> digest i//4, lane i%4)
    digests = ", ".join(
        ("md5(s)" if g == 0 else f"md5('{g}' || chr(31) || s)") + f" AS h{g}"
        for g in range((bands + 3) // 4)
    )
    lanes = " ".join(
        f"WHEN {i} THEN substr(h{i // 4}, {8 * (i % 4) + 1}, 8)" for i in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_tok_sql('text', stop=False)} AS t FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                     j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])) AS s
      FROM toks WHERE len(t) >= 3
    ), h AS (
      SELECT doc_id, {digests} FROM sh
    )
    SELECT doc_id::BIGINT AS doc_id, band::INT AS band,
           min(CASE band {lanes} END) AS sig
    FROM h CROSS JOIN range({bands}) b(band)
    GROUP BY doc_id, band
    """


def _trustrank_q_sql(edges_sql: str, seeds_sql: str, iters: int = 3) -> str:
    """Fixed-point TrustRank oracle: stats.trustrank_q's integer
    recurrence unrolled as MATERIALIZED CTEs. ``edges_sql`` provides
    (src, dst, w); ``seeds_sql`` one column of seed node ids."""
    from pignlproc_spark.operators.stats import PAGERANK_SCALE

    s = PAGERANK_SCALE
    parts = [
        "WITH eraw AS MATERIALIZED (SELECT src, dst, sum(w)::BIGINT AS w "
        f"FROM ({edges_sql}) GROUP BY src, dst),",
        "ws AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS wsum FROM eraw GROUP BY src),",
        "e AS MATERIALIZED (SELECT eraw.src, eraw.dst, eraw.w, ws.wsum FROM eraw JOIN ws USING (src)),",
        f"sd AS MATERIALIZED (SELECT DISTINCT * FROM ({seeds_sql})),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e "
        "UNION SELECT * FROM sd),",
        "ns AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM sd),",
        "fl AS MATERIALIZED (SELECT n.node, (EXISTS (SELECT 1 FROM sd WHERE sd.node = n.node))::INT AS seed "
        "FROM (SELECT node FROM nodes) n),",
        f"r0 AS MATERIALIZED (SELECT node, (seed * ({s} // ns.n))::BIGINT AS trust_q FROM fl CROSS JOIN ns)"
        + ("," if iters >= 1 else ""),
    ]
    prev = "r0"
    for k in range(1, iters + 1):
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT e.dst AS node, "
            f"sum((r.trust_q * e.w * 85) // (100 * e.wsum))::BIGINT AS acc"
            f"  FROM e JOIN {prev} r ON r.node = e.src GROUP BY e.dst),"
        )
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT fl.node, "
            f"(fl.seed * (({s}::BIGINT * 15) // (100 * ns.n)) + coalesce(c.acc, 0))::BIGINT AS trust_q"
            f"  FROM fl CROSS JOIN ns LEFT JOIN c{k} c ON fl.node = c.node)"
            + ("," if k < iters else "")
        )
        prev = f"r{k}"
    parts.append(f"SELECT node, trust_q FROM {prev}")
    return "\n".join(parts)


def _hits_q_sql(edges_sql: str, iters: int = 4) -> str:
    """Fixed-point HITS oracle: the integer recurrence of
    stats.hits_q unrolled as a MATERIALIZED-CTE chain (plain chained
    CTEs inline ~4^iters copies of the edge scan — always
    materialize; DuckDB ``//`` is Spark ``div`` on nonnegatives).
    ``edges_sql`` must provide (src, dst, w)."""
    from pignlproc_spark.operators.stats import HITS_SCALE

    s = HITS_SCALE
    parts = [
        "WITH e AS MATERIALIZED (SELECT src, dst, sum(w)::BIGINT AS w "
        f"FROM ({edges_sql}) GROUP BY src, dst),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        f"h0 AS MATERIALIZED (SELECT node, {s}::BIGINT AS hub_q FROM nodes),",
    ]
    prev_h = "h0"
    for k in range(1, iters + 1):
        parts += [
            f"ar{k} AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub_q * e.w)::BIGINT AS raw"
            f"  FROM e JOIN {prev_h} h ON h.node = e.src GROUP BY e.dst),",
            f"am{k} AS MATERIALIZED (SELECT greatest(coalesce(max(raw), 0), 1)::BIGINT AS m FROM ar{k}),",
            f"a{k} AS MATERIALIZED (SELECT n.node, ((coalesce(r.raw, 0) * {s}) // m)::BIGINT AS auth_q"
            f"  FROM nodes n CROSS JOIN am{k} LEFT JOIN ar{k} r ON r.node = n.node),",
            f"hr{k} AS MATERIALIZED (SELECT e.src AS node, sum(a.auth_q * e.w)::BIGINT AS raw"
            f"  FROM e JOIN a{k} a ON a.node = e.dst GROUP BY e.src),",
            f"hm{k} AS MATERIALIZED (SELECT greatest(coalesce(max(raw), 0), 1)::BIGINT AS m FROM hr{k}),",
            f"h{k} AS MATERIALIZED (SELECT n.node, ((coalesce(r.raw, 0) * {s}) // m)::BIGINT AS hub_q"
            f"  FROM nodes n CROSS JOIN hm{k} LEFT JOIN hr{k} r ON r.node = n.node)"
            + ("," if k < iters else ""),
        ]
        prev_h = f"h{k}"
    parts.append(
        f"SELECT h.node, h.hub_q, a.auth_q FROM h{iters} h JOIN a{iters} a USING (node)"
    )
    return "\n".join(parts)


def oracle_sql() -> dict[str, str]:
    syn = {name: _syn_path(name) for name in synth.TABLES}
    g = lambda name: f"read_parquet('{syn[name]}')"  # noqa: E731

    o: dict[str, str] = {}

    # ---- KG stages vs generator goldens ----
    o["kg_extract_text"] = f"SELECT url, text FROM {g('golden_text')}"
    o["kg_pair_counts"] = f"SELECT surface_form, uri, cnt FROM {g('golden_pair_counts')}"
    o["kg_uri_counts"] = f"SELECT uri, cnt FROM {g('golden_uri_counts')}"
    o["kg_sf_total_counts"] = (
        f"SELECT surface_form, annotated_cnt, total_cnt FROM {g('golden_sf_total_counts')}"
    )
    o["kg_token_counts"] = f"SELECT uri, token, cnt FROM {g('golden_token_counts')}"
    o["kg_mentions"] = f"SELECT url, context, surface_form, uri, cnt FROM {g('golden_mentions')}"
    o["kg_triples"] = f"SELECT subj, pred, obj, weight FROM {g('golden_triples')}"
    o["kg_resolve_redirects"] = f"""
    WITH RECURSIVE r(src_uri, cur, hops) AS (
      SELECT src_uri, src_uri, 0 FROM {g('redirects')}
      UNION ALL
      SELECT r.src_uri, e.dst_uri, r.hops + 1
      FROM r JOIN {g('redirects')} e ON r.cur = e.src_uri
      WHERE r.hops < 8
    )
    SELECT src_uri, arg_max(cur, hops) AS resolved_uri FROM r GROUP BY src_uri
    """
    o["kg_dab_expand"] = f"""
    SELECT coalesce(d.candidate_uri, u.uri) AS uri, sum(u.cnt)::BIGINT AS cnt
    FROM {g('golden_uri_counts')} u
    LEFT JOIN {g('disambiguations')} d ON u.uri = d.dab_uri
    GROUP BY 1
    """
    o["kg_link_candidates"] = f"""
    SELECT surface_form, uri, anchor_count, occurrence_count, rank::INT AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY surface_form
                                   ORDER BY anchor_count DESC, uri ASC) AS rank
      FROM {g('surface_forms')}
    ) WHERE rank <= 3
    """
    o["kg_link_probability"] = f"""
    SELECT surface_form,
           sum(anchor_count)::BIGINT AS anchor_total,
           max(occurrence_count)::BIGINT AS occurrence_total,
           CASE WHEN max(occurrence_count) > 0
                THEN sum(anchor_count)::BIGINT::DOUBLE / max(occurrence_count)::BIGINT::DOUBLE
                ELSE 0.0 END AS link_prob
    FROM {g('surface_forms')} GROUP BY surface_form
    """
    disambig_scored = f"""
    dm AS (
      SELECT DISTINCT url, context, surface_form FROM {g('golden_mentions')}
    ), dmid AS (
      SELECT url, context, surface_form,
             md5(coalesce(url, '') || chr(31) || coalesce(context, '')
                 || chr(31) || coalesce(surface_form, '')) AS mention_id
      FROM dm
    ), mt AS (
      SELECT mention_id, surface_form,
             unnest(list_distinct({_tok_sql('context', stop=True)})) AS token
      FROM dmid
    ), prof AS (
      SELECT uri, sum(cnt)::BIGINT AS ptot FROM {g('golden_token_counts')} GROUP BY uri
    ), uf AS (
      SELECT token, count(DISTINCT uri)::BIGINT AS uf FROM {g('golden_token_counts')} GROUP BY token
    ), ov AS (
      SELECT mt.mention_id, c.uri, sum(tc.cnt)::BIGINT AS overlap_cnt,
             sum(tc.cnt * (1000000 // (uf.uf * uf.uf)))::BIGINT AS icf_overlap
      FROM mt
      JOIN {g('golden_pair_counts')} c ON mt.surface_form = c.surface_form
      JOIN {g('golden_token_counts')} tc ON tc.uri = c.uri AND tc.token = mt.token
      JOIN uf ON uf.token = mt.token
      GROUP BY mt.mention_id, c.uri
    ), scored AS (
      SELECT d.url, d.surface_form, d.mention_id, c.uri,
             CASE WHEN coalesce(p.ptot, 0) > 0
                  THEN coalesce(o.icf_overlap, 0) * 1000 // p.ptot
                  ELSE 0 END::BIGINT AS evidence,
             coalesce(o.overlap_cnt, 0)::BIGINT AS overlap_cnt,
             c.cnt::BIGINT AS prior_cnt
      FROM dmid d
      JOIN {g('golden_pair_counts')} c ON d.surface_form = c.surface_form
      LEFT JOIN ov o ON o.mention_id = d.mention_id AND o.uri = c.uri
      LEFT JOIN prof p ON p.uri = c.uri
    )"""
    o["kg_disambiguate"] = f"""
    WITH {disambig_scored}
    SELECT url, surface_form, mention_id, uri, evidence, overlap_cnt, prior_cnt, rank::INT AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY mention_id
                                   ORDER BY evidence DESC, prior_cnt DESC, uri ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """
    # routed linker: restricting the scored CTE to contested surfaces
    # post-hoc is EXACT — uf weights and profile totals depend only on
    # golden_token_counts, never on which mentions are scored
    o["kg_disambiguate_routed"] = f"""
    WITH {disambig_scored},
    amb AS (
      SELECT surface_form, (max(cnt) * 1000 // sum(cnt) >= 980) AS easy
      FROM {g('golden_pair_counts')} GROUP BY surface_form
    ),
    easy_out AS (
      SELECT d.url, d.surface_form, d.mention_id, c.uri,
             0::BIGINT AS evidence, 0::BIGINT AS overlap_cnt,
             c.cnt::BIGINT AS prior_cnt, 1::INT AS rank, 'prior' AS route
      FROM dmid d
      JOIN amb a ON d.surface_form = a.surface_form AND a.easy
      JOIN (
        SELECT surface_form, uri, cnt, row_number() OVER (
          PARTITION BY surface_form ORDER BY cnt DESC, uri ASC) AS r
        FROM {g('golden_pair_counts')}
      ) c ON d.surface_form = c.surface_form AND c.r = 1
    ),
    hard_out AS (
      SELECT url, surface_form, mention_id, uri, evidence, overlap_cnt,
             prior_cnt, 1::INT AS rank, 'context' AS route
      FROM (
        SELECT s.*, row_number() OVER (PARTITION BY s.mention_id
          ORDER BY evidence DESC, prior_cnt DESC, uri ASC) AS r
        FROM scored s JOIN amb a ON s.surface_form = a.surface_form AND NOT a.easy
      ) WHERE r = 1
    )
    SELECT * FROM easy_out UNION ALL SELECT * FROM hard_out
    """
    o["kg_disambiguation_accuracy"] = f"""
    WITH {disambig_scored},
    best AS (
      SELECT mention_id, uri FROM (
        SELECT mention_id, uri, row_number() OVER (PARTITION BY mention_id
          ORDER BY evidence DESC, prior_cnt DESC, uri ASC) AS r FROM scored
      ) WHERE r = 1
    ), best_prior AS (
      SELECT mention_id, uri FROM (
        SELECT mention_id, uri, row_number() OVER (PARTITION BY mention_id
          ORDER BY prior_cnt DESC, uri ASC) AS r FROM scored
      ) WHERE r = 1
    ), gold AS (
      SELECT md5(coalesce(url, '') || chr(31) || coalesce(context, '')
                 || chr(31) || coalesce(surface_form, '')) AS mention_id, uri
      FROM (SELECT DISTINCT url, context, surface_form, uri FROM {g('golden_mentions')})
    )
    SELECT count(*)::BIGINT AS n_gold,
           count(*) FILTER (WHERE b.uri = gold.uri)::BIGINT AS n_hit,
           count(*) FILTER (WHERE p.uri = gold.uri)::BIGINT AS n_hit_prior
    FROM gold JOIN best b USING (mention_id) JOIN best_prior p USING (mention_id)
    """
    o["kg_disambiguation_accuracy_routed"] = f"""
    WITH {disambig_scored},
    amb AS (
      SELECT surface_form, (max(cnt) * 1000 // sum(cnt) >= 980) AS easy
      FROM {g('golden_pair_counts')} GROUP BY surface_form
    ),
    routed AS (
      SELECT d.mention_id, c.uri, 'prior' AS route
      FROM dmid d
      JOIN amb a ON d.surface_form = a.surface_form AND a.easy
      JOIN (
        SELECT surface_form, uri, row_number() OVER (
          PARTITION BY surface_form ORDER BY cnt DESC, uri ASC) AS r
        FROM {g('golden_pair_counts')}
      ) c ON d.surface_form = c.surface_form AND c.r = 1
      UNION ALL
      SELECT mention_id, uri, 'context' AS route FROM (
        SELECT s.mention_id, s.uri, row_number() OVER (PARTITION BY s.mention_id
          ORDER BY evidence DESC, prior_cnt DESC, uri ASC) AS r
        FROM scored s JOIN amb a ON s.surface_form = a.surface_form AND NOT a.easy
      ) WHERE r = 1
    ),
    best_full AS (
      SELECT mention_id, uri FROM (
        SELECT mention_id, uri, row_number() OVER (PARTITION BY mention_id
          ORDER BY evidence DESC, prior_cnt DESC, uri ASC) AS r FROM scored
      ) WHERE r = 1
    ),
    gold AS (
      SELECT md5(coalesce(url, '') || chr(31) || coalesce(context, '')
                 || chr(31) || coalesce(surface_form, '')) AS mention_id, uri
      FROM (SELECT DISTINCT url, context, surface_form, uri FROM {g('golden_mentions')})
    )
    SELECT count(*)::BIGINT AS n_gold,
           count(*) FILTER (WHERE r.uri = gold.uri)::BIGINT AS n_hit_routed,
           count(*) FILTER (WHERE f.uri = gold.uri)::BIGINT AS n_hit_full,
           count(*) FILTER (WHERE r.route = 'prior')::BIGINT AS n_prior_routed
    FROM gold JOIN routed r USING (mention_id) JOIN best_full f USING (mention_id)
    """
    o["kg_nerd_stats"] = f"""
    SELECT p.surface_form, p.uri, p.cnt,
           sum(p.cnt) OVER (PARTITION BY p.surface_form)::BIGINT AS sf_total
    FROM {g('golden_pair_counts')} p
    """

    # ---- relational matrix over driver views ----
    o["tpch_pricing_summary"] = """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
           sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """
    o["tpch_revenue_by_nation"] = """
    SELECT n_name,
           sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE AS revenue,
           count(*) AS li_cnt
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """
    o["tpch_part_order_fill"] = """
    SELECT p_partkey, coalesce(c._c, -1)::BIGINT AS li_cnt
    FROM part LEFT JOIN (
      SELECT l_partkey, count(*) AS _c FROM lineitem GROUP BY l_partkey
    ) c ON p_partkey = c.l_partkey
    """
    o["tpch_top_orders_per_segment"] = """
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn::INT AS rn FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    """
    o["tpch_distinct_flag_status"] = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"
    o["tpch_union_priority"] = """
    SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice >= 200000
    UNION ALL
    SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 50000
    """
    o["tpch_substring_ops"] = """
    SELECT p_partkey,
           substring(p_name, 3, 6) AS pig_substr,
           lower(trim(p_brand)) AS brand_lc,
           p_type || '#' || p_brand AS type_brand,
           length(p_name)::BIGINT AS name_len
    FROM part
    """
    o["tpch_orderby_limit"] = """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """
    o["events_props_extract"] = """
    SELECT event_type, count(*) AS cnt,
           sum(k)::BIGINT AS sum_k, min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k
    FROM (SELECT event_type, regexp_extract(props, '"k":[ \\t\\n\\x0B\\f\\r]*([0-9]+)', 1)::BIGINT AS k FROM events)
    GROUP BY event_type
    """
    o["docs_explode_tokens"] = f"""
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest({_tok_sql('text', stop=False)}) AS token FROM documents
    ) GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 100
    """

    # CCHtml v1 — the oracle expression is generated from the SAME
    # pattern/entity constants as the Spark column (functions/html.py)
    from pignlproc_spark.functions.html import html_to_text_sql

    o["web_html_extract"] = f"""
    SELECT doc_id, text, length(text)::BIGINT AS n_chars FROM (
      SELECT doc_id, {html_to_text_sql('html')} AS text FROM (
        SELECT doc_id,
               '{HTML_WRAP_PRE}' || doc_id::VARCHAR || '{HTML_WRAP_MID}'
               || text || '{HTML_WRAP_POST}' AS html
        FROM documents
      )
    )
    """

    # CCMoji v1 — damage + repair chains rendered from the same
    # generated cp1252-round-trip table as the Spark side
    from pignlproc_spark.functions import encoding as _enc

    _rep = {c: d for d, c in _enc.MOJIBAKE_TABLE}
    o["docs_mojibake_fix"] = f"""
    SELECT doc_id,
           {_enc.mojibake_count_sql('text')} AS n_mojibake,
           text_fixed,
           length(text_fixed)::BIGINT AS n_chars_fixed
    FROM (
      SELECT doc_id, text, {_enc.mojibake_fix_sql('text')} AS text_fixed FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN replace(t1, 'o', '{_rep["ö"]}')
                    ELSE t1 END AS text
        FROM (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN replace(text, 'e', '{_rep["é"]}')
                      ELSE text END AS t1
          FROM documents
        )
      )
    )
    """

    # ---- web-page URL ops (CCUrl v1 — same RE2 regexes as
    # functions/urls.py, so both engines run the identical frozen spec) ----
    o["web_canonical_urls"] = f"""
    WITH v AS (
      SELECT unnest([url, url || '#section', upper(url), url || '/']) AS variant
      FROM {g('pages')}
    ) {url_canonical_sql('v')}
    """
    o["web_url_dedup"] = f"""
    WITH v AS (
      SELECT unnest([url, url || '#frag', url || '/',
                     upper(split_part(url, '/p/', 1)) || '/p/' || split_part(url, '/p/', 2)]) AS variant
      FROM {g('pages')}
    ), c AS ({url_canonical_sql('v')})
    SELECT canonical_url, min(variant) AS keep_variant, count(*)::BIGINT AS n_variants
    FROM c GROUP BY canonical_url
    """
    o["docs_history_dedup"] = """
    WITH new AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text || ' v2' AS text FROM documents WHERE doc_id % 2 = 1
    ), hist AS (
      SELECT DISTINCT md5(text) AS key FROM documents
    )
    SELECT n.doc_id, md5(n.text) AS key,
           (CASE WHEN h.key IS NULL THEN 1 ELSE 0 END)::INT AS keep
    FROM new n LEFT JOIN hist h ON md5(n.text) = h.key
    """
    # CCRobots v1 — the relational robots.txt parse + RFC 9309
    # longest-match verdict, mirrored line for line (1-based list
    # indices here vs posexplode's 0-based are internal-only; no
    # output column depends on them)
    o["web_robots_filter"] = robots_verdict_sql(g("pages"))
    o["web_crawl_delays"] = robots_delay_sql(g("pages"))
    o["web_robots_sitemaps"] = robots_sitemaps_sql(g("pages"))
    o["web_url_blocklist"] = blocklist_sql(g("pages"))
    o["web_crawl_pipeline"] = f"""
    WITH bl AS ({blocklist_sql(g('pages'))}),
    rb AS ({robots_verdict_sql(g('pages'))})
    SELECT bl.url, bl.host, bl.host_blocked, bl.prefix_blocked,
           rb.allow AS robots_allow,
           (bl.keep * rb.allow)::INT AS keep
    FROM bl JOIN rb ON bl.url = rb.url
    """
    o["docs_readability"] = f"""
    SELECT doc_id, n_words, n_sentences, n_vowel_groups,
           ((39 * n_words) // greatest(n_sentences, 1)
            + (1180 * n_vowel_groups) // greatest(n_words, 1) - 1559)::BIGINT AS fk_q100
    FROM (
      SELECT doc_id,
             len({_tok_sql('text', stop=False)})::BIGINT AS n_words,
             len(regexp_extract_all(text, '[.!?]+'))::BIGINT AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_vowel_groups
      FROM documents
    )
    """
    o["web_url_templates"] = f"""
    WITH base AS (
      SELECT url, CAST(regexp_extract(url, '/p/([0-9]{{7}})', 1) AS BIGINT) AS pid,
             lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host
      FROM {g('pages')}
    ), urls AS (
      SELECT url AS u FROM base
      UNION ALL
      SELECT 'https://' || host || '/c' || (pid % 7) || '/item-' || pid || '?ref=9' FROM base
      UNION ALL
      SELECT 'https://' || host || '/about' FROM base
    ), parts AS (
      SELECT lower(regexp_extract(trim(u), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
             CASE WHEN regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]+([^?#]*)', 1) = ''
                  THEN '/' ELSE regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]+([^?#]*)', 1) END AS path
      FROM urls
    )
    SELECT host, regexp_replace(path, '[0-9]+', '{{n}}', 'g') AS template,
           count(*)::BIGINT AS n_urls
    FROM parts GROUP BY host, template
    """
    o["web_sitemap_urls"] = sitemap_locs_sql(g("pages"))
    _sm_decode = (
        "trim(replace(replace(replace(replace(replace(raw_loc, "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&apos;', ''''), '&amp;', '&'))"
    )
    o["web_sitemap_routing"] = f"""
    WITH ph AS (
      SELECT DISTINCT lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host
      FROM {g('pages')}
    ), bodies AS (
      SELECT host, '{SMI_WRAP[0]}' || host || '{SMI_WRAP[1]}' || host || '{SMI_WRAP[2]}' AS body FROM ph
      UNION ALL
      SELECT host, '{SMF_WRAP[0]}' || host || '{SMF_WRAP[1]}' || host || '{SMF_WRAP[2]}' AS body FROM ph
    ), raw AS (
      SELECT host,
             CASE WHEN contains(body, '<sitemapindex') THEN 'sitemap' ELSE 'page' END AS kind,
             unnest(regexp_extract_all(body, '<loc>([^<]*)</loc>', 1)) AS raw_loc
      FROM bodies
    )
    SELECT host, kind, {_sm_decode} AS loc FROM raw
    """
    o["web_frontier_gap"] = f"""
    WITH locs AS ({sitemap_locs_sql(g('pages'))}),
    dvar AS (SELECT loc AS variant FROM locs),
    dcan AS ({url_canonical_sql('dvar')}),
    pvar AS (SELECT url AS variant FROM {g('pages')}),
    crawled AS (SELECT DISTINCT canonical_url FROM ({url_canonical_sql('pvar')}))
    SELECT d.host, d.canonical_url AS to_crawl
    FROM dcan d
    WHERE NOT EXISTS (SELECT 1 FROM crawled c WHERE c.canonical_url = d.canonical_url)
    """
    # CCLink v1 — the oracle scans the SAME frozen HREF_RE and applies
    # the SAME resolution CASE, over the identically-constructed page
    from pignlproc_spark.functions.html import extract_hrefs_sql
    from pignlproc_spark.functions.urls import resolve_href_sql

    _lg_page = f"'{LINK_WRAP_PRE}' || src_host || '{LINK_WRAP_POST}'"
    o["web_link_graph"] = f"""
    WITH ph AS (
      SELECT lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS src_host
      FROM {g('pages')}
    ), hrefs AS (
      SELECT src_host, unnest({extract_hrefs_sql(_lg_page)}) AS href FROM ph
    ), res AS (
      SELECT src_host, {resolve_href_sql('href', 'src_host')} AS r FROM hrefs
    )
    SELECT src_host,
           lower(regexp_extract(r, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS dst_host,
           count(*)::BIGINT AS n_links
    FROM res WHERE r IS NOT NULL GROUP BY 1, 2
    """

    # HITS — the same host edges fed through the unrolled fixed-point
    # recurrence (MATERIALIZED CTEs; see _hits_q_sql)
    o["web_hits_q"] = (
        "SELECT node AS host, hub_q, auth_q FROM (\n"
        + _hits_q_sql(
            "SELECT src_host AS src, dst_host AS dst, n_links AS w FROM ("
            + o["web_link_graph"]
            + ")",
            iters=4,
        )
        + "\n)"
    )
    # TrustRank — the same host edges, teleport restricted to the
    # cc0/cc1 seed hosts, unrolled fixed-point recurrence
    _tr_edges = (
        "SELECT src_host AS src, dst_host AS dst, n_links AS w FROM ("
        + o["web_link_graph"]
        + ")"
    )
    _tr_seeds = (
        "SELECT node FROM (SELECT src_host AS node FROM ("
        + o["web_link_graph"]
        + ") UNION SELECT dst_host FROM ("
        + o["web_link_graph"]
        + ")) WHERE substr(node, 3, 1) IN ('0', '1')"
    )
    o["web_trustrank_q"] = (
        "SELECT node AS host, trust_q FROM (\n"
        + _trustrank_q_sql(_tr_edges, _tr_seeds, iters=3)
        + "\n)"
    )
    # host components — reachability over the same host edges
    o["web_host_components"] = f"""
    WITH RECURSIVE lg AS (
      {o['web_link_graph']}
    ),
    sym AS (
      SELECT src_host AS u, dst_host AS v FROM lg WHERE src_host <> dst_host
      UNION SELECT dst_host, src_host FROM lg WHERE src_host <> dst_host
    ),
    reach(u, l) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT s.v, r.l FROM reach r JOIN sym s ON s.u = r.u
    )
    SELECT u AS host, min(l) AS component FROM reach GROUP BY u
    """
    # CCMeta v1 — the oracle strips comments and runs the SAME frozen
    # title/canonical/meta/hreflang patterns over the identically-
    # constructed head (every fixture constant spliced verbatim)
    from pignlproc_spark.functions.html import (
        canonical_link_sql,
        hreflang_langs_sql,
        meta_content_sql,
        page_title_sql,
        strip_comments_sql,
    )

    o["web_page_metadata"] = f"""
    WITH ph AS (
      SELECT url, CAST(regexp_extract(url, '/p/([0-9]{{7}})', 1) AS BIGINT) AS pid,
             lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host
      FROM {g('pages')}
    ), h AS (
      SELECT url,
        '{META_WRAP_PRE}' || pid || '{META_TITLE_MID}' || host || '</title>'
        || CASE WHEN pid % 2 = 0
                THEN '{META_CANON_KV[0]}' || host || '/c/' || pid || '{META_CANON_KV[1]}'
                ELSE '{META_CANON_VK[0]}' || host || '/c/' || pid || '{META_CANON_VK[1]}' END
        || CASE WHEN pid % 5 = 0 THEN ''
                ELSE '{META_DESC[0]}' || (pid % 7) || '{META_DESC[1]}' || host || '{META_DESC[2]}' END
        || CASE WHEN pid % 3 = 0 THEN '{META_ROBOTS_NOIDX}' ELSE '{META_ROBOTS_IDX}' END
        || CASE pid % 4 WHEN 1 THEN '{META_HL1}'
                        WHEN 2 THEN '{META_HL1}{META_HL2}'
                        WHEN 3 THEN '{META_HL1}{META_HL2}{META_HL3}'
                        ELSE '' END
        || '{META_WRAP_POST}' AS html
      FROM ph
    ), s AS (
      SELECT url, {strip_comments_sql('html')} AS sh FROM h
    )
    SELECT url,
           {page_title_sql('sh')} AS title,
           {canonical_link_sql('sh')} AS canonical,
           {meta_content_sql('sh', 'description')} AS description,
           coalesce(contains({meta_content_sql('sh', 'robots')}, 'noindex'), false)::BIGINT AS noindex,
           len({hreflang_langs_sql('sh')})::BIGINT AS n_hreflang
    FROM s
    """
    # CCLink v1 paired scan — same frozen element/inner-text patterns,
    # same fixture construction (pid % 97 spliced into href AND text)
    from pignlproc_spark.functions.html import (
        anchor_elems_sql,
        anchor_href_sql,
        anchor_text_sql,
    )

    _as_page = (
        f"'{ANCHOR_WRAP_PRE}' || ent || '{ANCHOR_WRAP_MID}' || ent"
        f" || '{ANCHOR_WRAP_POST}'"
    )
    o["web_anchor_stats"] = f"""
    WITH ph AS (
      SELECT (CAST(regexp_extract(url, '/p/([0-9]{{7}})', 1) AS BIGINT) % 97)::VARCHAR AS ent
      FROM {g('pages')}
    ), el AS (
      SELECT unnest({anchor_elems_sql(_as_page)}) AS elem FROM ph
    )
    SELECT {anchor_text_sql('elem')} AS surface_form,
           {anchor_href_sql('elem')} AS target,
           count(*)::BIGINT AS n_anchors
    FROM el GROUP BY 1, 2
    """
    o["web_domain_stats"] = f"""
    SELECT lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
           count(*) AS n_pages, sum(length(text))::BIGINT AS text_chars
    FROM {g('pages')} GROUP BY 1
    """
    o["web_domain_quota"] = f"""
    SELECT host, url, rank FROM (
      SELECT lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
             url,
             row_number() OVER (
               PARTITION BY lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
               ORDER BY url ASC
             )::INT AS rank
      FROM {g('pages')}
    ) WHERE rank <= 40
    """
    o["events_sessionize"] = """
    WITH o AS (
      SELECT user_id, ts, event_id, floor(epoch(ts))::BIGINT AS ep,
             lag(floor(epoch(ts))::BIGINT) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ep
      FROM events
    ), marked AS (
      SELECT user_id, ts, event_id, ep,
             CASE WHEN prev_ep IS NULL OR ep - prev_ep > 1800 THEN 1 ELSE 0 END AS brk
      FROM o
    ), sess AS (
      SELECT user_id, ep,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS session_id
      FROM marked
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ep)::BIGINT AS start_epoch, max(ep)::BIGINT AS end_epoch
    FROM sess GROUP BY user_id, session_id
    """
    o["docs_stratified_sample"] = """
    SELECT doc_id::BIGINT AS doc_id, lang AS stratum,
           (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100) AS bucket,
           ((('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100)
            < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 ELSE 5 END)::INT AS keep
    FROM documents
    """

    o["docs_mix_corpus"] = """
    WITH b AS (
      SELECT doc_id::BIGINT AS doc_id, source,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100) AS bucket,
             CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 130
                         WHEN 'src2' THEN 0 ELSE 40 END AS w
      FROM documents
    )
    SELECT doc_id, source,
           unnest(range(1, w // 100 + CASE WHEN bucket < w % 100 THEN 1 ELSE 0 END + 1))::INT AS epoch
    FROM b
    """
    # τ=2 temperature mix — the oracle repeats the quantized-sqrt
    # integer chain from the same constants (SQRT_Q, md5 bucket)
    from pignlproc_spark.operators.textstats import SQRT_Q

    o["docs_mix_temperature"] = f"""
    WITH d AS (
      SELECT doc_id, CASE WHEN substr(source, 4)::INT < 14 THEN 'web'
                          WHEN substr(source, 4)::INT < 18 THEN 'books'
                          ELSE 'code' END AS source
      FROM documents
    ), n AS (
      SELECT source, count(*)::BIGINT AS n FROM d GROUP BY source
    ), q AS (
      SELECT source, n, CAST(floor(sqrt((n * {SQRT_Q})::DOUBLE)) AS BIGINT) AS sq FROM n
    ), t AS (
      SELECT sum(n)::BIGINT AS nn, sum(sq)::BIGINT AS ss FROM q
    ), r AS (
      SELECT source, ((100 * ((100 * nn) // 100) * sq) // (ss * n))::BIGINT AS rate
      FROM q CROSS JOIN t
    ), b AS (
      SELECT d.doc_id::BIGINT AS doc_id, d.source,
             (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::BIGINT % 100) AS bucket,
             r.rate
      FROM d JOIN r USING (source)
    )
    SELECT doc_id, source,
           unnest(range(1, rate // 100 + CASE WHEN bucket < rate % 100 THEN 1 ELSE 0 END + 1))::INT AS epoch
    FROM b
    """
    o["docs_quality_gate"] = f"""
    WITH t AS (
      SELECT doc_id::BIGINT AS doc_id,
             len({_tok_sql('text', stop=False)})::BIGINT AS n_tokens
      FROM documents
    ), r AS (
      SELECT n_tokens,
             row_number() OVER (ORDER BY n_tokens, doc_id)::BIGINT AS rn,
             count(*) OVER ()::BIGINT AS n
      FROM t
    ), thr AS (
      SELECT n_tokens AS threshold FROM r WHERE rn = (n * 10 + 99) // 100
    )
    SELECT t.doc_id, t.n_tokens, thr.threshold
    FROM t CROSS JOIN thr WHERE t.n_tokens >= thr.threshold
    """
    o["docs_tfidf_topk"] = f"""
    WITH tf AS (
      SELECT doc_id::BIGINT AS doc_id, tok, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest({_tok_sql('text', stop=False)}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ), wdf AS (
      SELECT *, count(*) OVER (PARTITION BY tok)::BIGINT AS doc_freq FROM tf
    ), n AS (SELECT count(*)::BIGINT AS n FROM documents),
    scored AS (
      SELECT doc_id, tok AS token, tf, doc_freq,
             floor(1000000.0 * tf * ln(n / doc_freq))::BIGINT AS score_q
      FROM wdf CROSS JOIN n
    )
    SELECT doc_id, token, tf, doc_freq, score_q, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, token ASC)::INT AS rank
      FROM scored
    ) WHERE rank <= 3
    """
    o["docs_global_token_stats"] = f"""
    SELECT token, count(DISTINCT doc_id)::BIGINT AS doc_freq, count(*) AS total_cnt
    FROM (SELECT doc_id, unnest({_tok_sql('text', stop=False)}) AS token FROM documents)
    GROUP BY token
    """

    # ---- training-data ops ----
    o["docs_minhash_sigs"] = _minhash_sql()
    o["docs_minhash_wide"] = _minhash_sql(bands=8)
    o["docs_lsh_pairs"] = f"""
    WITH sigs AS ({_minhash_sql()})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """
    _lsh_pairs_sql = f"""
      WITH sigs AS ({_minhash_sql()})
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """
    _clusters_sql = f"""
    pairs AS ({_lsh_pairs_sql}),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(u, l) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT s.v, r.l FROM reach r JOIN sym s ON s.u = r.u
    ),
    comp AS (SELECT u AS doc_id, min(l) AS component_id FROM reach GROUP BY u)
    """
    o["docs_dedup_clusters"] = f"""
    WITH RECURSIVE {_clusters_sql}
    SELECT doc_id::BIGINT AS doc_id, component_id::BIGINT AS component_id FROM comp
    """
    o["docs_dedup_keep"] = f"""
    WITH RECURSIVE {_clusters_sql}
    SELECT d.doc_id::BIGINT AS doc_id,
           coalesce(c.component_id, d.doc_id)::BIGINT AS component_id,
           (coalesce(c.component_id, d.doc_id) = d.doc_id)::INT AS keep
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """
    o["docs_repetition"] = f"""
    WITH toks AS (
      SELECT doc_id, {_tok_sql('text', stop=False)} AS t FROM documents
    ), g2 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1])) AS g
      FROM toks WHERE len(t) >= 2
    ), g2c AS (
      SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g
    ), g2a AS (
      SELECT doc_id, sum(cnt) AS n2, max(cnt) AS top2 FROM g2c GROUP BY doc_id
    ), g3 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])) AS g
      FROM toks WHERE len(t) >= 3
    ), g3c AS (
      SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY doc_id, g
    ), g3a AS (
      SELECT doc_id, sum(cnt) AS n3, sum(cnt) - count(*) AS dup3 FROM g3c GROUP BY doc_id
    )
    SELECT t.doc_id::BIGINT AS doc_id, len(t.t)::BIGINT AS n_tokens,
           coalesce(n2, 0)::BIGINT AS n_2grams, coalesce(top2, 0)::BIGINT AS top2gram_cnt,
           coalesce(n3, 0)::BIGINT AS n_3grams, coalesce(dup3, 0)::BIGINT AS dup3gram_cnt
    FROM toks t LEFT JOIN g2a ON t.doc_id = g2a.doc_id LEFT JOIN g3a ON t.doc_id = g3a.doc_id
    """
    o["docs_curation_pipeline"] = f"""
    WITH RECURSIVE {_clusters_sql},
    nd AS (
      SELECT d.doc_id::BIGINT AS doc_id,
             (coalesce(c.component_id, d.doc_id) = d.doc_id)::INT AS neardup_keep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ), cf AS ({{CORPUS_FILTER}})
    SELECT cf.doc_id, cf.keep AS quality_keep, nd.neardup_keep,
           (cf.keep * nd.neardup_keep)::INT AS keep
    FROM cf JOIN nd ON cf.doc_id = nd.doc_id
    """
    o["kg_entity_cooccurrence"] = f"""
    WITH m AS (SELECT DISTINCT url, uri FROM {g('golden_mentions')})
    SELECT a.uri AS uri_a, b.uri AS uri_b, count(*) AS cnt
    FROM m a JOIN m b ON a.url = b.url AND a.uri < b.uri
    GROUP BY a.uri, b.uri
    """
    o["docs_jaccard_pairs"] = f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_tok_sql('text', stop=False)}) AS tok
      FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.tok, b.tok))::BIGINT AS inter_cnt,
           (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)))::BIGINT AS union_cnt
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.tok, b.tok)) * 100
          >= (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) * 10
    """
    o["docs_rarity_score"] = f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*)::BIGINT AS tf FROM (
        SELECT doc_id, unnest({_tok_sql('text', stop=False)}) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ), dfreq AS (SELECT tok, count(*)::BIGINT AS doc_freq FROM tf GROUP BY tok)
    SELECT doc_id::BIGINT AS doc_id, sum(tf)::BIGINT AS n_tokens,
           sum(tf * doc_freq)::BIGINT AS sum_doc_freq
    FROM tf JOIN dfreq USING (tok) GROUP BY doc_id
    """
    # docs_quality_classifier: CCLogReg v1 training replayed as
    # unrolled materialized-CTE rounds. Cross-engine exactness rests
    # on: integer weight/gradient state, integer sums only across
    # rows, and per-row IEEE doubles restricted to correctly-rounded
    # ops (+ - * / floor clamp; hard sigmoid instead of exp) — see
    # operators/classifier.py
    _lr_rounds, _lr_dim = 3, 64
    _lr = [
        f"lab AS MATERIALIZED (SELECT doc_id::BIGINT AS doc_id,"
        f" (len({_tok_sql('text', stop=False)}) >= 56)::INT AS y FROM documents)",
        f"tf AS MATERIALIZED (SELECT doc_id::BIGINT AS doc_id,"
        f" ('0x' || substr(md5(tok), 1, 4))::BIGINT % {_lr_dim} AS bucket,"
        f" count(*)::BIGINT AS cnt FROM (SELECT doc_id,"
        f" unnest({_tok_sql('text', stop=False)}) AS tok FROM documents) GROUP BY 1, 2)",
        "fb AS MATERIALIZED (SELECT * FROM tf"
        " UNION ALL SELECT doc_id, -1::BIGINT, 1::BIGINT FROM lab)",
        "nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM lab)",
        f"w0 AS MATERIALIZED (SELECT unnest(range(-1, {_lr_dim}))::BIGINT AS bucket,"
        f" 0::BIGINT AS w_q)",
    ]
    for i in range(_lr_rounds):
        _lr.append(
            f"d{i} AS MATERIALIZED (SELECT f.doc_id, sum(f.cnt * w.w_q)::BIGINT AS dot_q"
            f" FROM fb f JOIN w{i} w USING (bucket) GROUP BY 1)"
        )
        _lr.append(
            f"e{i} AS MATERIALIZED (SELECT l.doc_id,"
            f" least(1.0, greatest(0.0, 0.5 + CAST(d.dot_q AS DOUBLE) / 4000000.0))"
            f" - CAST(l.y AS DOUBLE) AS err FROM lab l JOIN d{i} d USING (doc_id))"
        )
        _lr.append(
            f"g{i} AS MATERIALIZED (SELECT f.bucket,"
            f" sum(CAST(floor(e.err * CAST(f.cnt AS DOUBLE) * 1000000.0) AS BIGINT))::BIGINT AS g"
            f" FROM fb f JOIN e{i} e USING (doc_id) GROUP BY 1)"
        )
        _lr.append(
            f"w{i + 1} AS MATERIALIZED (SELECT w.bucket,"
            f" (w.w_q - CAST(floor((0.5 * CAST(coalesce(g.g, 0) AS DOUBLE))"
            f" / CAST(nn.n AS DOUBLE)) AS BIGINT))::BIGINT AS w_q"
            f" FROM w{i} w LEFT JOIN g{i} g USING (bucket) CROSS JOIN nn)"
        )
    o["docs_quality_classifier"] = f"""
    WITH {', '.join(_lr)}
    SELECT s.doc_id, s.score_q, (s.score_q > 0)::INT AS pred, l.y AS label
    FROM (
      SELECT f.doc_id, sum(f.cnt * w.w_q)::BIGINT AS score_q
      FROM fb f JOIN w{_lr_rounds} w USING (bucket) GROUP BY 1
    ) s JOIN lab l USING (doc_id)
    """

    o["docs_lang_id"] = _langid_sql()
    o["docs_quality"] = f"""
    WITH t AS (
      SELECT doc_id, text,
             {_tok_sql('text', stop=False)} AS toks,
             {_tok_sql('text', stop=True)} AS toks_ns
      FROM documents
    )
    SELECT doc_id::BIGINT AS doc_id,
           length(text)::BIGINT AS n_chars,
           len(toks)::BIGINT AS n_tokens,
           (len(toks) - len(toks_ns))::BIGINT AS n_stopword_hits,
           len(regexp_extract_all(text, '[.,;:!?]'))::BIGINT AS n_punct,
           len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_digits,
           (CASE WHEN len(toks) > 0
                 THEN floor(list_sum(list_transform(toks, t -> length(t))) * 100 / len(toks))
                 ELSE 0 END)::BIGINT AS mean_token_len_x100
    FROM t
    """
    o["docs_fingerprint"] = """
    SELECT doc_id::BIGINT AS doc_id,
           md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """
    o["docs_token_counts"] = f"""
    WITH t AS (SELECT doc_id, {_tok_sql('text', stop=False)} AS toks FROM documents)
    SELECT doc_id::BIGINT AS doc_id, len(toks)::BIGINT AS n_tokens,
           len(list_distinct(toks))::BIGINT AS n_unique_tokens
    FROM t
    """
    o["docs_bpe_pieces"] = r"""
    SELECT doc_id::BIGINT AS doc_id,
           len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))::BIGINT AS n_pieces
    FROM documents
    """
    o["docs_corpus_filter"] = f"""
    WITH q AS ({o["docs_quality"]}),
    l AS ({_langid_sql()}),
    h AS (SELECT doc_id::BIGINT AS doc_id, md5(text) AS ch FROM documents),
    k AS (SELECT ch, min(doc_id)::BIGINT AS keep_id FROM h GROUP BY ch),
    c AS (SELECT h.doc_id, (h.doc_id = k.keep_id)::INT AS is_canonical FROM h JOIN k USING (ch))
    SELECT q.doc_id,
           (q.n_tokens >= 25 AND q.n_tokens <= 100000)::INT AS ok_len,
           (q.mean_token_len_x100 BETWEEN 300 AND 800)::INT AS ok_token_len,
           (l.lang_pred = 'en')::INT AS ok_lang,
           c.is_canonical,
           ((q.n_tokens >= 25 AND q.n_tokens <= 100000)
            AND (q.mean_token_len_x100 BETWEEN 300 AND 800)
            AND l.lang_pred = 'en' AND c.is_canonical = 1)::INT AS keep
    FROM q JOIN l USING (doc_id) JOIN c USING (doc_id)
    """
    o["docs_surprisal"] = f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*)::BIGINT AS tf FROM (
        SELECT doc_id, unnest({_tok_sql('text', stop=False)}) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ), cf AS (SELECT tok, sum(tf)::BIGINT AS cf FROM tf GROUP BY tok),
    n AS (SELECT sum(cf)::DOUBLE AS n FROM cf),
    nll AS (SELECT tok, floor(1000000.0 * ln(n / cf::DOUBLE))::BIGINT AS nll_q
            FROM cf CROSS JOIN n)
    SELECT doc_id::BIGINT AS doc_id, sum(tf)::BIGINT AS n_tokens,
           floor(sum(tf * nll_q)::DOUBLE / sum(tf))::BIGINT AS surprisal_q
    FROM tf JOIN nll USING (tok) GROUP BY doc_id
    """
    # docs_bigram_surprisal: add-one conditional bigram NLL (CCBigramLM
    # v1) — adjacent pairs via list_transform (tokens are letters and
    # digits, chr(31) can't occur), Laplace over the unigram vocab V
    o["docs_bigram_surprisal"] = f"""
    WITH t AS (
      SELECT doc_id, {_tok_sql('text', stop=False)} AS toks FROM documents
    ), u AS (
      SELECT count(DISTINCT tok)::BIGINT AS v
      FROM (SELECT unnest(toks) AS tok FROM t)
    ), bg AS (
      SELECT doc_id, string_split(pr, chr(31))[1] AS a,
             string_split(pr, chr(31))[2] AS b, count(*)::BIGINT AS tf
      FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               j -> toks[j] || chr(31) || toks[j+1])) AS pr
        FROM t WHERE len(toks) >= 2
      ) GROUP BY 1, 2, 3
    ), cab AS (SELECT a, b, sum(tf)::BIGINT AS c_ab FROM bg GROUP BY a, b),
    ca AS (SELECT a, sum(c_ab)::BIGINT AS c_a FROM cab GROUP BY a),
    nll AS (
      SELECT a, b, floor(1000000.0 * ln((c_a + v)::DOUBLE / (c_ab + 1)::DOUBLE))::BIGINT AS nll_q
      FROM cab JOIN ca USING (a) CROSS JOIN u
    )
    SELECT doc_id::BIGINT AS doc_id, sum(tf)::BIGINT AS n_bigrams,
           floor(sum(tf * nll_q)::DOUBLE / sum(tf))::BIGINT AS surprisal2_q
    FROM bg JOIN nll USING (a, b) GROUP BY doc_id
    """
    # docs_dsir_weights: DSIR hashed-n-gram importance log-weights
    # toward the lang='en' subset (unigrams + chr(31)-joined adjacent
    # bigrams, md5 bucket mod 8192 — the frozen hash_bucket spec;
    # Laplace k=1 both models; quantize per bucket, then integer sums)
    o["docs_dsir_weights"] = f"""
    WITH t AS (
      SELECT doc_id, lang, {_tok_sql('text', stop=False)} AS toks FROM documents
    ), g AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(gram), 1, 4))::BIGINT % 8192 AS bucket
      FROM (
        SELECT doc_id, lang, unnest(list_concat(toks,
               list_transform(range(1, len(toks)),
                              j -> toks[j] || chr(31) || toks[j+1]))) AS gram
        FROM t WHERE len(toks) >= 1
      )
    ), rawd AS (
      SELECT doc_id, bucket, count(*)::BIGINT AS tf FROM g GROUP BY 1, 2
    ), cr AS (
      SELECT bucket, sum(tf)::BIGINT AS c_r FROM rawd GROUP BY bucket
    ), ct AS (
      SELECT bucket, count(*)::BIGINT AS c_t FROM g WHERE lang = 'en' GROUP BY bucket
    ), nr AS (SELECT sum(c_r)::BIGINT AS n_r FROM cr),
    nt AS (SELECT coalesce(sum(c_t), 0)::BIGINT AS n_t FROM ct),
    lr AS (
      SELECT cr.bucket,
             floor(1000000.0 * ln(
               ((coalesce(c_t, 0) + 1)::DOUBLE * (n_r + 8192)::DOUBLE)
               / ((c_r + 1)::DOUBLE * (n_t + 8192)::DOUBLE)))::BIGINT AS lr_q
      FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN nr CROSS JOIN nt
    )
    SELECT doc_id::BIGINT AS doc_id, sum(tf)::BIGINT AS n_grams,
           sum(tf * lr_q)::BIGINT AS dsir_logw_q
    FROM rawd JOIN lr USING (bucket) GROUP BY doc_id
    """

    o["docs_line_dedup"] = f"""
    WITH p AS (
      SELECT doc_id,
             text || chr(10) || 'cookie banner accept all cookies'
                  || chr(10) || 'footer nav copyright 2024' AS text
      FROM documents
    ), raw AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS idx
      FROM p
    ), l AS (
      SELECT doc_id, idx, line, md5(line) AS h,
             row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, idx) AS rn
      FROM raw WHERE line <> ''
    ), n_all AS (
      SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id
    ), kept AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS clean_text
      FROM l WHERE rn = 1 GROUP BY doc_id
    )
    SELECT d.doc_id::BIGINT AS doc_id,
           coalesce(n_lines, 0)::BIGINT AS n_lines,
           coalesce(n_kept, 0)::BIGINT AS n_kept,
           coalesce(clean_text, '') AS clean_text
    FROM documents d LEFT JOIN n_all USING (doc_id) LEFT JOIN kept USING (doc_id)
    """
    o["web_fetch_schedule"] = f"""
    WITH ph AS (
      SELECT lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
             url
      FROM {g('pages')}
    ), rn AS (
      SELECT host, url,
             row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS r
      FROM ph
    )
    SELECT host, url, (r // 16)::BIGINT AS fetch_wave, (r % 16)::BIGINT AS fetch_slot
    FROM rn
    """
    o["docs_novelty"] = f"""
    WITH toks AS (
      SELECT doc_id, {_tok_sql('text', stop=False)} AS t FROM documents
    ), raw AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                            j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])) AS g
      FROM toks WHERE len(t) >= 3
    ), d AS (
      SELECT DISTINCT doc_id, g FROM raw
    ), f AS (
      SELECT g, min(doc_id) AS first_doc FROM d GROUP BY g
    ), a AS (
      SELECT d.doc_id, count(*) AS nd,
             sum(CASE WHEN d.doc_id = f.first_doc THEN 1 ELSE 0 END) AS nn
      FROM d JOIN f USING (g) GROUP BY d.doc_id
    )
    SELECT t.doc_id::BIGINT AS doc_id,
           coalesce(nd, 0)::BIGINT AS n_distinct_grams,
           coalesce(nn, 0)::BIGINT AS n_novel_grams
    FROM toks t LEFT JOIN a ON t.doc_id = a.doc_id
    """

    from pignlproc_spark.operators.textstats import pii_scrub_sql

    _pii_clean, _pii_counts = pii_scrub_sql("text")
    o["docs_pii_scrub"] = f"""
    WITH p AS (
      SELECT doc_id,
             text || ' Contact user' || doc_id::VARCHAR
                  || '@mail.example.com or +1 555-0'
                  || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                  || ' from 192.168.' || (doc_id % 256)::VARCHAR
                  || '.1 id 123-45-6789.' AS text
      FROM documents
    )
    SELECT doc_id::BIGINT AS doc_id, {_pii_clean} AS clean_text,
           {', '.join(_pii_counts)}
    FROM p
    """
    # the curation-pipeline oracle composes the corpus-filter SQL
    # (defined just above) into its quality CTE
    o["docs_curation_pipeline"] = o["docs_curation_pipeline"].replace(
        "{CORPUS_FILTER}", o["docs_corpus_filter"]
    )

    # ---- sources ----
    o["src_wikidump_index"] = (
        f"SELECT title, page_id, markup_bytes FROM {g('golden_dump_index')}"
    )
    o["src_ntriples_redirects"] = f"SELECT src_uri AS subj, dst_uri AS obj FROM {g('redirects')}"
    o["src_ntriples_abstracts"] = f"SELECT uri AS subj, abstract AS lit FROM {g('abstracts')}"
    _warc_cols = "url, ts_epoch, http_status, content_type, payload_bytes, payload_md5"
    o["src_warc_pages"] = f"SELECT {_warc_cols} FROM {g('golden_warc_pages')}"
    o["src_warc_cdx_replay"] = f"SELECT {_warc_cols} FROM {g('golden_warc_pages')}"
    o["media_stats_real"] = (
        "SELECT url, kind, n_bytes::BIGINT AS n_bytes, decoded::BIGINT AS decoded, "
        "width::BIGINT AS width, height::BIGINT AS height, n_pixels::BIGINT AS n_pixels, "
        "sum_r::BIGINT AS sum_r, sum_g::BIGINT AS sum_g, sum_b::BIGINT AS sum_b, "
        "sample_rate::BIGINT AS sample_rate, n_samples::BIGINT AS n_samples, "
        "sum_abs::BIGINT AS sum_abs, zero_crossings::BIGINT AS zero_crossings "
        f"FROM {g('golden_media_stats')}"
    )
    o["media_audio_frames"] = (
        "SELECT url, frame_idx::BIGINT AS frame_idx, frame_start::BIGINT AS frame_start, "
        "energy::BIGINT AS energy, sum_abs::BIGINT AS sum_abs, "
        "zero_crossings::BIGINT AS zero_crossings, peak::BIGINT AS peak "
        f"FROM {g('golden_audio_frames')}"
    )
    o["media_dhash"] = f"SELECT url, dhash FROM {g('golden_image_dhash')}"
    # media_dhash_pairs: the same 4x16-bit pigeonhole banding + exact
    # bit_count(xor) verify replayed over the golden dhash table (band
    # values are 16-bit non-negative ints — no signed-shift semantics)
    _dh_ham = " + ".join(
        f"bit_count(xor(('0x' || substr(ha, {1 + 4 * b}, 4))::BIGINT, "
        f"('0x' || substr(hb, {1 + 4 * b}, 4))::BIGINT))"
        for b in range(4)
    )
    o["media_dhash_pairs"] = f"""
    WITH h AS (SELECT url, dhash FROM {g('golden_image_dhash')}),
    bands AS (SELECT unnest(range(0, 4))::INT AS band),
    b AS (
      SELECT url, dhash, band, substr(dhash, 1 + 4 * band, 4) AS code
      FROM h CROSS JOIN bands
    ), cand AS (
      SELECT DISTINCT a.url AS url_a, a.dhash AS ha, t.url AS url_b, t.dhash AS hb
      FROM b a JOIN b t ON a.band = t.band AND a.code = t.code AND a.url < t.url
    )
    SELECT url_a, url_b, hamming FROM (
      SELECT url_a, url_b, ({_dh_ham})::BIGINT AS hamming FROM cand
    ) WHERE hamming <= 3
    """

    # ---- ner/topic corpus ----
    o["ner_typed_mention_counts"] = f"""
    SELECT e.type, m.uri, sum(m.cnt)::BIGINT AS cnt
    FROM {g('golden_mentions')} m JOIN {g('entity_types')} e ON m.uri = e.uri
    GROUP BY e.type, m.uri
    """
    o["topic_grounded"] = f"""
    SELECT category, count(*) AS n_articles FROM {g('article_categories')}
    GROUP BY category HAVING count(*) >= 3
    """
    o["topic_broader_closure"] = f"""
    WITH RECURSIVE r(category, cur, hops) AS (
      SELECT category, category, 0 FROM {g('skos_broader')}
      UNION ALL
      SELECT r.category, e.parent, r.hops + 1
      FROM r JOIN {g('skos_broader')} e ON r.cur = e.category
      WHERE r.hops < 8
    )
    SELECT category, arg_max(cur, hops) AS root FROM r GROUP BY category
    """
    o["topic_abstracts"] = f"""
    WITH grounded AS (
      SELECT category FROM {g('article_categories')} GROUP BY category HAVING count(*) >= 3
    )
    SELECT c.category, c.uri, a.abstract
    FROM {g('article_categories')} c
    JOIN grounded USING (category)
    JOIN {g('abstracts')} a ON c.uri = a.uri
    """
    o["kg_context_docs"] = f"""
    WITH expanded AS (
      SELECT uri, context FROM {g('golden_mentions')} CROSS JOIN unnest(range(cnt)) t(i)
    )
    SELECT uri, string_agg(context, ' ' ORDER BY context) AS doc FROM expanded GROUP BY uri
    """
    o["cogroup_sf_stats"] = f"""
    WITH m AS (
      SELECT surface_form, count(*) AS n_uris, sum(cnt)::BIGINT AS n_mentions
      FROM {g('golden_pair_counts')} GROUP BY surface_form
    ), d AS (
      SELECT surface_form, count(*) AS n_candidates FROM {g('surface_forms')} GROUP BY surface_form
    )
    SELECT coalesce(m.surface_form, d.surface_form) AS surface_form,
           coalesce(m.n_uris, 0)::BIGINT AS n_uris,
           coalesce(m.n_mentions, 0)::BIGINT AS n_mentions,
           coalesce(d.n_candidates, 0)::BIGINT AS n_candidates
    FROM m FULL OUTER JOIN d ON m.surface_form = d.surface_form
    """
    o["events_json_native"] = """
    SELECT event_type,
           sum(regexp_extract(props, '"k":[ \\t\\n\\x0B\\f\\r]*([0-9]+)', 1)::BIGINT)::BIGINT AS sum_k,
           count(*) AS cnt
    FROM events GROUP BY event_type
    """

    o["kg_paragraph_contexts"] = (
        f"SELECT url, context, surface_form, uri, cnt FROM {g('golden_paragraph_mentions')}"
    )

    _CN = 8  # contamination window (matches docs_contamination_spans)
    _cncat = " || ' ' || ".join(f"t[j+{k}]" for k in range(_CN))
    _cont_ctes = f"""
    ctoks AS (
      SELECT doc_id, {_tok_sql('text', stop=False)} AS t FROM documents WHERE doc_id % 5 <> 0
    ), cw AS (
      SELECT doc_id, j - 1 AS pos, md5({_cncat}) AS h
      FROM ctoks, unnest(range(1, greatest(len(t) - {_CN - 2}, 1))) AS u(j)
      WHERE len(t) >= {_CN}
    ), evw AS (
      SELECT DISTINCT md5({_cncat}) AS h
      FROM (SELECT {_tok_sql('text', stop=False)} AS t FROM documents WHERE doc_id % 5 = 0),
           unnest(range(1, greatest(len(t) - {_CN - 2}, 1))) AS u(j)
      WHERE len(t) >= {_CN}
    ), chits AS (
      SELECT cw.doc_id, cw.pos FROM cw JOIN evw USING (h)
    ), cisl0 AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {_CN - 1}
                  THEN 0 ELSE 1 END AS brk
      FROM chits
    ), cisl AS (
      SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM cisl0
    ), cspans AS (
      SELECT doc_id, grp, min(pos) AS span_start, max(pos) + {_CN - 1} AS span_end,
             count(*) AS n_windows
      FROM cisl GROUP BY doc_id, grp
    )"""
    o["docs_contamination_spans"] = f"""
    WITH {_cont_ctes}
    SELECT doc_id::BIGINT AS doc_id, span_start::BIGINT AS span_start,
           span_end::BIGINT AS span_end, n_windows::BIGINT AS n_windows
    FROM cspans
    """
    o["docs_strip_contamination"] = f"""
    WITH {_cont_ctes},
    cpt AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS tok
      FROM ctoks, unnest(range(1, len(t) + 1)) AS u(i)
    ), ckept AS (
      SELECT cpt.doc_id, cpt.pos, cpt.tok FROM cpt
      WHERE NOT EXISTS (
        SELECT 1 FROM cspans s
        WHERE s.doc_id = cpt.doc_id AND cpt.pos BETWEEN s.span_start AND s.span_end
      )
    ), creb AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM ckept GROUP BY doc_id
    )
    SELECT t.doc_id::BIGINT AS doc_id,
           coalesce(creb.clean_text, '') AS clean_text,
           coalesce(creb.n_kept, 0)::BIGINT AS n_tokens_kept,
           (len(t.t) - coalesce(creb.n_kept, 0))::BIGINT AS n_tokens_dropped
    FROM ctoks t LEFT JOIN creb ON t.doc_id = creb.doc_id
    """
    o["docs_pack_sequences"] = r"""
    WITH base AS (
      SELECT doc_id::BIGINT AS doc_id,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 8) AS shard,
             len(regexp_extract_all(text,
                 '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))::BIGINT AS n_pieces
      FROM documents
    ), c AS (
      SELECT *, (sum(n_pieces) OVER (PARTITION BY shard ORDER BY doc_id) - n_pieces)::BIGINT AS cum_before
      FROM base
    )
    SELECT doc_id, shard, n_pieces, cum_before,
           (cum_before // 512)::BIGINT AS seq_start,
           ((cum_before + greatest(n_pieces, 1) - 1) // 512)::BIGINT AS seq_end,
           (cum_before % 512)::BIGINT AS offset_in_seq
    FROM c
    """
    o["docs_length_quantiles"] = f"""
    WITH t AS (
      SELECT lang AS stratum, doc_id::BIGINT AS id,
             len({_tok_sql('text', stop=False)})::BIGINT AS n_tokens
      FROM documents
    ), r AS (
      SELECT stratum, n_tokens,
             row_number() OVER (PARTITION BY stratum ORDER BY n_tokens, id)::BIGINT AS rn,
             count(*) OVER (PARTITION BY stratum)::BIGINT AS n_docs
      FROM t
    )
    SELECT stratum, q::INT AS q, n_docs, n_tokens AS q_value
    FROM r CROSS JOIN unnest([50, 90, 99]) AS u(q)
    WHERE rn = (n_docs * q + 99) // 100
    """

    o["kg_link_prediction"] = f"""
    WITH m AS (SELECT DISTINCT url, uri FROM {g('golden_mentions')}),
    cooc AS (
      SELECT a.uri AS uri_a, b.uri AS uri_b
      FROM m a JOIN m b ON a.url = b.url AND a.uri < b.uri
      GROUP BY 1, 2
    ), sym AS (
      SELECT uri_a AS z, uri_b AS n FROM cooc
      UNION ALL SELECT uri_b AS z, uri_a AS n FROM cooc
    ), deg AS (
      SELECT z, count(*)::BIGINT AS deg FROM sym GROUP BY z
    ), wedges AS (
      SELECT s1.n AS u, s2.n AS v, d.deg
      FROM sym s1 JOIN sym s2 ON s1.z = s2.z AND s1.n < s2.n
      JOIN deg d ON d.z = s1.z
    ), sc AS (
      SELECT u, v, count(*)::BIGINT AS n_common,
             sum(1000000 // deg)::BIGINT AS ra_q
      FROM wedges GROUP BY u, v
    ), missing AS (
      SELECT sc.* FROM sc
      WHERE NOT EXISTS (
        SELECT 1 FROM cooc e WHERE e.uri_a = sc.u AND e.uri_b = sc.v
      )
    ), symp AS (
      SELECT u AS uri, v AS cand_uri, n_common, ra_q FROM missing
      UNION ALL SELECT v AS uri, u AS cand_uri, n_common, ra_q FROM missing
    )
    SELECT uri, cand_uri, n_common, ra_q, rank::INT AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY uri ORDER BY ra_q DESC, n_common DESC, cand_uri ASC
      ) AS rank FROM symp
    ) WHERE rank <= 5
    """

    o["tpch_customers_no_orders"] = """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >= 300000
    )
    """
    o["tpch_set_ops"] = """
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice >= 200000),
         lo AS (SELECT o_custkey FROM orders WHERE o_totalprice < 50000)
    SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM hi INTERSECT SELECT * FROM lo)
    UNION ALL
    SELECT o_custkey, 'hi_only' AS tag FROM (SELECT * FROM hi EXCEPT SELECT * FROM lo)
    """
    o["tpch_customers_with_big_orders"] = """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice >= 300000)
    """
    o["tpch_set_ops_all"] = """
    WITH hi AS (SELECT o_orderpriority FROM orders WHERE o_totalprice >= 200000),
         lo AS (SELECT o_orderpriority FROM orders WHERE o_totalprice < 50000)
    SELECT o_orderpriority, 'inter_all' AS tag
    FROM (SELECT * FROM hi INTERSECT ALL SELECT * FROM lo)
    UNION ALL
    SELECT o_orderpriority, 'except_all' AS tag
    FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM lo)
    """
    o["events_rollup"] = """
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(epoch(date_trunc('hour', ts))::BIGINT, -1) AS hour_epoch,
           (GROUPING(event_type) * 2 + GROUPING(date_trunc('hour', ts)))::BIGINT AS gid,
           count(*)::BIGINT AS cnt,
           sum(floor(value * 100))::BIGINT AS value_c_sum
    FROM events
    GROUP BY ROLLUP(event_type, date_trunc('hour', ts))
    """
    o["events_pivot"] = """
    SELECT user_id,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
           sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase
    FROM events
    GROUP BY user_id
    """
    o["events_running_window"] = """
    SELECT event_id, user_id,
           row_number() OVER w::BIGINT AS run_cnt,
           count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)::BIGINT AS w3_cnt,
           coalesce(lag(event_id) OVER w, -1)::BIGINT AS prev_event_id
    FROM (SELECT event_id, user_id, epoch_us(ts)::BIGINT AS ts_us FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    """
    o["events_user_mode"] = """
    SELECT user_id, event_type AS top_event_type, cnt FROM (
      SELECT user_id, event_type, count(*)::BIGINT AS cnt,
             row_number() OVER (
               PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC
             ) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """
    o["docs_positional_index"] = f"""
    WITH t AS (SELECT doc_id::BIGINT AS doc_id, {_tok_sql('text', stop=False)} AS l FROM documents)
    SELECT tok AS token, doc_id, count(*)::BIGINT AS tf,
           min(pos)::BIGINT AS first_pos, max(pos)::BIGINT AS last_pos
    FROM (
      SELECT doc_id, unnest(l) AS tok,
             unnest(list_transform(l, (x, i) -> i - 1)) AS pos
      FROM t
    )
    GROUP BY tok, doc_id
    """
    o["docs_collocations"] = f"""
    WITH t AS (SELECT {_tok_sql('text', stop=False)} AS l FROM documents),
    uni AS (
      SELECT tok, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(l) AS tok FROM t) GROUP BY tok
    ), bi AS (
      SELECT bg.a AS tok_a, bg.b AS tok_b, count(*)::BIGINT AS cnt_xy
      FROM (
        SELECT unnest(list_filter(
          list_transform(l, (x, i) -> struct_pack(a := x, b := l[i + 1])),
          s -> s.b IS NOT NULL)) AS bg
        FROM t
      )
      GROUP BY bg.a, bg.b
      HAVING count(*) >= 2
    )
    SELECT tok_a, tok_b, cnt_xy, x.cnt AS cnt_x, y.cnt AS cnt_y
    FROM bi JOIN uni x ON bi.tok_a = x.tok JOIN uni y ON bi.tok_b = y.tok
    ORDER BY cnt_xy / (x.cnt::DOUBLE * y.cnt::DOUBLE) DESC, tok_a ASC, tok_b ASC
    LIMIT 100
    """

    o["events_grouping_sets"] = """
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(epoch(date_trunc('day', ts))::BIGINT, -1) AS day_epoch,
           (GROUPING(event_type) * 2 + GROUPING(date_trunc('day', ts)))::BIGINT AS gid,
           count(*)::BIGINT AS cnt,
           sum(floor(value * 100))::BIGINT AS value_c_sum
    FROM events
    GROUP BY GROUPING SETS ((event_type), (date_trunc('day', ts)), ())
    """
    o["events_value_ntile"] = """
    SELECT event_id::BIGINT AS event_id, event_type,
           floor(value * 100)::BIGINT AS value_c,
           ntile(4) OVER (PARTITION BY event_type
                          ORDER BY floor(value * 100), event_id)::INT AS quartile
    FROM events
    """
    o["kg_sf_fuzzy_pairs"] = f"""
    WITH s AS (SELECT DISTINCT surface_form FROM {g('surface_forms')}),
    b AS (SELECT surface_form, substr(surface_form, 1, 1) AS blk,
                 (length(surface_form) // 4) AS lb FROM s)
    SELECT a.surface_form AS sf_a, c.surface_form AS sf_b,
           levenshtein(a.surface_form, c.surface_form)::BIGINT AS edit_dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.lb = c.lb
                      AND a.surface_form < c.surface_form
    WHERE levenshtein(a.surface_form, c.surface_form) <= 2
    """
    o["events_unpivot"] = """
    WITH w AS (
      SELECT user_id::BIGINT AS user_id, event_type, count(*)::BIGINT AS cnt
      FROM events
      WHERE event_type IN ('click','view','error','signup','purchase')
      GROUP BY 1, 2
    )
    SELECT user_id, event_type, cnt FROM w WHERE cnt > 0
    """
    o["events_cube"] = """
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(epoch(date_trunc('day', ts))::BIGINT, -1) AS day_epoch,
           (GROUPING(event_type) * 2 + GROUPING(date_trunc('day', ts)))::BIGINT AS gid,
           count(*)::BIGINT AS cnt,
           sum(floor(value * 100))::BIGINT AS value_c_sum
    FROM events
    GROUP BY CUBE(event_type, date_trunc('day', ts))
    """
    o["docs_phrase_search"] = f"""
    WITH toks AS (
      SELECT doc_id::BIGINT AS doc_id, tok AS token, pos
      FROM (
        SELECT doc_id, unnest(l) AS tok,
               unnest(list_transform(l, (x, i) -> i - 1)) AS pos
        FROM (SELECT doc_id, {_tok_sql('text', stop=False)} AS l FROM documents)
      )
    ), w AS (
      SELECT doc_id, pos,
             (token = 'fast'
              AND lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) = 'batch'
              AND lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) = 'merge') AS hit
      FROM toks
    )
    SELECT doc_id, count(*)::BIGINT AS n_matches, min(pos)::BIGINT AS first_pos
    FROM w WHERE hit GROUP BY doc_id
    """

    # float literals are ::DOUBLE (DuckDB parses bare decimals as
    # DECIMAL, whose arithmetic would diverge from Spark's doubles);
    # the parenthesization mirrors textstats.bm25_topk verbatim
    o["docs_bm25_topk"] = f"""
    WITH toks AS (
      SELECT doc_id::BIGINT AS doc_id, unnest({_tok_sql('text', stop=False)}) AS token
      FROM documents
    ), dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
    g AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n,
                 (SELECT sum(dl) FROM dl)::BIGINT AS sum_dl),
    tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks
           WHERE token IN ('dup', 'hash', 'merge', 'spark') GROUP BY doc_id, token),
    dft AS (SELECT token, count(DISTINCT doc_id)::BIGINT AS dft FROM toks
            WHERE token IN ('dup', 'hash', 'merge', 'spark') GROUP BY token),
    t AS (
      SELECT tf.doc_id, dl.dl,
             floor(1000000.0::DOUBLE
                   * ln(1.0::DOUBLE + (n - dft + 0.5::DOUBLE) / (dft + 0.5::DOUBLE))
                   * ((tf * (1.2::DOUBLE + 1.0::DOUBLE))
                      / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                         + 0.75::DOUBLE * dl / (sum_dl / n)))))::BIGINT AS term_q
      FROM tf JOIN dft USING (token) JOIN dl USING (doc_id) CROSS JOIN g
    )
    SELECT doc_id, count(*)::BIGINT AS matched_terms, min(dl)::BIGINT AS dl,
           sum(term_q)::BIGINT AS score_q
    FROM t GROUP BY doc_id
    ORDER BY score_q DESC, doc_id LIMIT 20
    """

    # docs_chunk_windows: overlapping token windows — starts are
    # range(0, n, stride) on both sides; DuckDB list_slice is 1-based
    # inclusive = Spark slice(arr, start, length) clipped at list end
    o["docs_chunk_windows"] = f"""
    WITH t AS (
      SELECT doc_id::BIGINT AS doc_id, {_tok_sql('text', stop=False)} AS toks FROM documents
    ), s AS (
      SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t WHERE len(toks) > 0
    ), e AS (
      SELECT doc_id, toks, n, unnest(range(0, n, 96)) AS st FROM s
    )
    SELECT doc_id, (st // 96)::BIGINT AS chunk_idx, st::BIGINT AS chunk_start,
           least(128, n - st)::BIGINT AS chunk_len,
           md5(array_to_string(list_slice(toks, st + 1, st + 128), ' ')) AS chunk_md5
    FROM e
    """

    # kg_incremental_merge: the Spark side replays the change log
    # through merge_snapshot's rank window; the oracle computes the
    # closed-form merged snapshot from the same md5 buckets
    o["kg_incremental_merge"] = f"""
    WITH t AS (
      SELECT subj, pred, obj, weight,
             ('0x' || substr(md5(subj || '|' || pred || '|' || obj), 1, 4))::BIGINT % 10 AS h
      FROM {g('golden_triples')}
    )
    SELECT subj, pred, obj,
           (CASE WHEN h < 2 THEN weight + 1000 ELSE weight END)::BIGINT AS weight
    FROM t WHERE h NOT IN (2, 3)
    """

    o["docs_count_of_counts"] = f"""
    WITH tok AS (
      SELECT unnest({_tok_sql('text', stop=False)}) AS token FROM documents
    ), freq AS (
      SELECT token, count(*)::BIGINT AS r FROM tok GROUP BY token
    ), cofc AS (
      SELECT r, count(*)::BIGINT AS n_r FROM freq GROUP BY r
    )
    SELECT c.r, c.n_r,
           ((c.r + 1)::HUGEINT * n2.n_r * 1000 // c.n_r)::BIGINT AS r_star_q
    FROM cofc c LEFT JOIN cofc n2 ON n2.r = c.r + 1
    """

    o["docs_vocab_growth"] = f"""
    WITH tok AS (
      SELECT doc_id::BIGINT AS d, unnest({_tok_sql('text', stop=False)}) AS token
      FROM documents
    ), pb AS (
      SELECT d // 50 AS bucket, count(*)::BIGINT AS n_tokens FROM tok GROUP BY 1
    ), fst AS (
      SELECT token, min(d) AS fd FROM tok GROUP BY token
    ), nt AS (
      SELECT fd // 50 AS bucket, count(*)::BIGINT AS new_types FROM fst GROUP BY 1
    )
    SELECT pb.bucket::BIGINT AS bucket, pb.n_tokens,
           coalesce(nt.new_types, 0)::BIGINT AS new_types,
           sum(coalesce(nt.new_types, 0)) OVER (ORDER BY pb.bucket)::BIGINT AS cum_types,
           sum(pb.n_tokens) OVER (ORDER BY pb.bucket)::BIGINT AS cum_tokens
    FROM pb LEFT JOIN nt USING (bucket)
    """

    _hb100 = "(('0x' || substr(md5(host), 1, 4))::BIGINT % 100)"
    o["web_host_split"] = f"""
    WITH hosts AS (
      SELECT lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
             count(*)::BIGINT AS n_pages
      FROM {g('pages')} GROUP BY 1
    )
    SELECT host, {_hb100} AS bucket,
           CASE WHEN {_hb100} < 80 THEN 'train'
                WHEN {_hb100} < 90 THEN 'valid'
                ELSE 'test' END AS split,
           n_pages
    FROM hosts
    """

    # media_features / ner_opennlp_sentences / kg_entity_pagerank:
    # intentionally no oracle (float ordering / format-rendering paths)
    # → driver records rows-only checks.
    return o
