"""Package layout guard (no Spark needed), at two grains.

Modules: every ``pignlproc_spark`` module must be reachable from a job
(``jobs/*.py``) or a benchmark workload (``perfbench/*.py``), or be
listed in ``ALLOWED_UNREACHED`` with the reason it stays. That list
holds only paper analogues not yet wired into a job. Reachability is
an AST import walk that follows every import, lazy in-function ones
included, and a package's ``__init__`` whenever one of its submodules
is imported.

Functions: every top-level function and class of a reached module must
be reachable from the jobs and workloads by a name-based walk (see
:func:`function_reach`), or be listed in
``ALLOWED_UNREACHED_FUNCTIONS`` with its reason. Allowlisted entries
count as walk roots, so their private helpers need no entry of their
own, and deleting an entry fails the test for every helper only it
used. An entry that is now reached, or no longer exists, fails too.

Neither walk follows ``__spark_entry__`` or ``tests/``: code whose only
callers are the driver contract or tests counts as unreached, so new
driver-only code fails here instead of accumulating."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "pignlproc_spark"

ALLOWED_UNREACHED = {
    "pignlproc_spark.operators.corpus": "pignlproc's ner-corpus and topic-corpus scripts",
    "pignlproc_spark.operators.mentions": "pignlproc J7 ParagraphsWithLink (paragraph link contexts)",
    "pignlproc_spark.sources.wikidump": "the paper's J1/J2 dump split, to be wired into build_kg",
    "pignlproc_spark.sources.ntriples": "the paper's J4 NTriples reader, to be wired into build_kg",
}


DRIVER_ONLY = "only the driver contract and its tests call it; retirement pending (ROADMAP direction 1)"
TESTS_ONLY = "only its own tests call it; retirement pending (ROADMAP direction 1)"
PAPER_ANALOGUE = "pignlproc analogue not yet wired into a job"


def _each(reason: str, *names: str) -> dict[str, str]:
    return {f"{PKG}.{name}": reason for name in names}


ALLOWED_UNREACHED_FUNCTIONS = {
    **_each(
        DRIVER_ONLY,
        "functions.encoding.encoding_signals",
        "functions.encoding.mojibake_count_sql",
        "functions.encoding.mojibake_fix_sql",
        "functions.html.anchor_elems_col",
        "functions.html.anchor_elems_sql",
        "functions.html.anchor_href_col",
        "functions.html.anchor_href_sql",
        "functions.html.anchor_text_col",
        "functions.html.anchor_text_sql",
        "functions.html.canonical_link_sql",
        "functions.html.extract_hrefs_sql",
        "functions.html.hreflang_langs_sql",
        "functions.html.html_to_text_sql",
        "functions.html.meta_content_sql",
        "functions.html.page_metadata",
        "functions.html.page_title_sql",
        "functions.html.strip_comments_sql",
        "functions.urls.blocklist_filter",
        "functions.urls.domain_quota",
        "functions.urls.host_split",
        "functions.urls.parse_sitemap",
        "functions.urls.parse_sitemap_routed",
        "functions.urls.resolve_href_sql",
        "functions.urls.robots_crawl_delay",
        "functions.urls.robots_sitemaps",
        "functions.urls.url_templates",
        "operators.canonicalize.expand_disambiguations",
        "operators.linking.link_probability",
        "operators.multimodal.audio_frames",
        "operators.multimodal.extract_media_features",
        "operators.multimodal.fake_media_df",
        "operators.multimodal.media_stats",
        "operators.textstats.bigram_surprisal",
        "operators.textstats.bm25_topk",
        "operators.textstats.bpe_ish_token_counts",
        "operators.textstats.chunk_token_windows",
        "operators.textstats.collocations",
        "operators.textstats.count_of_counts",
        "operators.textstats.doc_fingerprint",
        "operators.textstats.global_token_stats",
        "operators.textstats.length_quantiles",
        "operators.textstats.novelty_score",
        "operators.textstats.phrase_search",
        "operators.textstats.pii_scrub_sql",
        "operators.textstats.positional_index",
        "operators.textstats.rarity_score",
        "operators.textstats.readability_signals",
        "operators.textstats.repetition_signals",
        "operators.textstats.stratified_sample",
        "operators.textstats.temperature_mix",
        "operators.textstats.tfidf_topk",
        "operators.textstats.token_counts_per_doc",
        "operators.textstats.top_tokens",
        "operators.textstats.unigram_surprisal",
        "operators.textstats.vocab_growth",
        "operators.triples.merge_snapshot",
        "sources.warc.read_warc_gz_indexed",
    ),
    **_each(
        TESTS_ONLY,
        "functions.html.extract_pages",
        "functions.tokenize.tokens_col_unicode",
        "operators.linking.score_mentions",
        "operators.multimodal.decode_payload",
        "operators.multimodal.resize_bmp",
        "operators.multimodal.resize_image",
        "operators.multimodal.resize_images",
        "operators.multimodal.sample_frames",
        "sources.warc.warc_to_pages",
        "streaming.ingest.windowed_uri_counts",
        "tables.read_jsonl_quarantine",
        "tables.read_tsv",
        "tables.verify_jsonl_shards",
        "tables.write_bucketed",
        "tables.write_range_sorted",
    ),
    **_each(
        PAPER_ANALOGUE,
        "functions.extract.parse_pages",
        "functions.sentences.sentences_with_links",
        "operators.stats.aggregate_text_salted",
        "operators.stats.nerd_stats",
        "operators.stats.token_counts_nested",
    ),
    "pignlproc_spark.functions.tokenize.cjk_bigrams": "reference implementation for test_cjk_bigrams_parity",
    "pignlproc_spark.functions.tokenize._nfc_suspect_ranges": (
        "reference derivation of NFC_SUSPECT_RANGES for test_tokens_col_unicode_non_nfc_parity"
    ),
    "pignlproc_spark.operators.classifier.train_reference": (
        "reference implementation for test_weights_match_reference_bitwise"
    ),
    "pignlproc_spark.operators.stats.capped_surface_forms": (
        "reference implementation for test_sf_dict_arrow_path_matches_list_path"
    ),
    "pignlproc_spark.plans.pipeline.precision_recall": "the P/R measure of test_triples_pr_gate",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file may import: for ``from a import b`` both
    ``a`` and ``a.b`` (``b`` may be a submodule or an attribute)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def unreached_modules() -> set[str]:
    mods = _package_modules()
    reached: set[str] = set()
    todo = sorted((ROOT / "jobs").glob("*.py")) + sorted((ROOT / "perfbench").glob("*.py"))
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in reached:
                    reached.add(mod)
                    todo.append(mods[mod])
    return set(mods) - reached


def test_every_module_is_reached_or_allowlisted():
    unreached = unreached_modules()
    assert unreached == set(ALLOWED_UNREACHED), (
        "modules no job or workload imports (delete them, or allowlist one "
        f"with its reason): {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allowlisted but now reached or gone: {sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _from_imports(tree: ast.AST) -> dict[str, str]:
    """Local name -> dotted target of every ``from a import b [as c]``
    in a file, lazy in-function ones included."""
    return {
        a.asname or a.name: f"{node.module}.{a.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module
        for a in node.names
    }


def function_reach() -> tuple[set[str], set[str], set[str]]:
    """(every top-level function/class of a reached module, those the
    jobs and workloads reach, those reached once the allowlisted
    entries also count as roots), as ``module.name`` keys.

    A name-based walk: a bare name resolves to the def of that name in
    its own module, else to what the file imports under it, else to
    every def of that name; an attribute (``dedup.near_duplicates``)
    and, in ``perfbench/``, a string constant (``layers.py`` patches by
    attribute name) resolve to every def of that name. A shared name
    therefore keeps a def reached: the walk can miss dead code, never
    flag live code."""
    mods = _package_modules()
    defs: dict[str, tuple[str, ast.AST]] = {}
    by_name: dict[str, set[str]] = {}
    imports: dict[str, dict[str, str]] = {}  # per owning file
    roots: list[tuple[str, ast.AST, bool]] = []  # (owner, node, follow strings)
    for mod in sorted(set(mods) - unreached_modules()):
        tree = ast.parse(mods[mod].read_text(), str(mods[mod]))
        imports[mod] = _from_imports(tree)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                key = f"{mod}.{stmt.name}"
                defs[key] = (mod, stmt)
                by_name.setdefault(stmt.name, set()).add(key)
            else:
                roots.append((mod, stmt, False))
    for path in sorted((ROOT / "jobs").glob("*.py")) + sorted((ROOT / "perfbench").glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        imports[str(path)] = _from_imports(tree)
        roots.append((str(path), tree, path.parent.name == "perfbench"))

    def refs(owner, node, strings):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                local = f"{owner}.{n.id}"
                if local in defs:
                    yield {local}
                elif imports[owner].get(n.id) in defs:
                    yield {imports[owner][n.id]}
                else:
                    yield by_name.get(n.id, set())
            elif isinstance(n, ast.Attribute):
                yield by_name.get(n.attr, set())
            elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str):
                yield by_name.get(n.value, set())

    reached: set[str] = set()

    def walk(todo):
        while todo:
            for keys in refs(*todo.pop()):
                for key in keys - reached:
                    reached.add(key)
                    todo.append((*defs[key], False))

    walk(roots)
    by_jobs = set(reached)
    listed = [key for key in ALLOWED_UNREACHED_FUNCTIONS if key in defs]
    reached.update(listed)
    walk([(*defs[key], False) for key in listed])
    return set(defs), by_jobs, reached


def test_every_function_is_reached_or_allowlisted():
    defs, by_jobs, reached = function_reach()
    listed = set(ALLOWED_UNREACHED_FUNCTIONS)
    assert not defs - reached and not listed & by_jobs and listed <= defs, (
        "functions no job or workload reaches (delete them, or allowlist one "
        f"with its reason): {sorted(defs - reached)}; allowlisted but now reached: "
        f"{sorted(listed & by_jobs)}; allowlisted but gone: {sorted(listed - defs)}"
    )
