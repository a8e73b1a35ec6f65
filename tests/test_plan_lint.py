"""Registry-wide physical-plan lint: no operator may plan a
nested-loop or cartesian join unless it is on the justified
allowlist. This is the guardrail that keeps "works on 60k rows"
from hiding an O(n^2) plan that dies at 100 TB — a new query that
accidentally loses its equi-join condition (or its broadcast hint)
fails here even though its results are correct.
"""

import pytest

from skills_vectors_spark import registry
from skills_vectors_spark.plans import physical_plan

# Every entry here is an INTENTIONAL nested-loop: the build side is
# constant-size (N_QUERIES=20 query vectors) or the query is the
# declared exact/oracle tier whose scale twin exists.
BNLJ_ALLOWED = {
    "knn_exact",  # 20 broadcast query vecs x corpus — the exact tier
    "knn_filtered",  # same shape, metadata predicate pre-filters the corpus
    "knn_exact_l2",  # same, L2
    "eval_recall",  # consumes knn_exact
    "eval_avgsim",  # consumes knn_exact
    "eval_recall_lsh",  # consumes knn_exact as gold
    "eval_backend_compare",  # consumes all ANN tiers + gold
    "report_pivot",  # consumes knn_exact
    "embed_knn_pipeline",  # embeds then knn_exact
    "ann_ivf",  # r13 gate row: knn_exact gold + 1-row scalar crosses
    "ann_lsh",  # r13 gate row: knn_exact gold + 1-row scalar crosses
    "ann_brp_l2",  # r13 gate row: same shape (L2 gold)
    "ann_pq",  # r13 gate row: same shape
    "ann_ivf_pq",  # r13 gate row: same shape
    "join_cross_topk",  # bounded boundary broadcast (<=2K rows/range
    # partition) into the few edge suppliers — r10 sorted-neighbor
    # candidate plan; the |S| x |C| brute-force expansion is gone
    "join_theta_range",  # declared band-join primitive (scale twin: join_range_binned)
    "dedup_embed_cosine",  # declared exact all-pairs tier (scale twins: blas/lsh)
    "sim_topk_bruteforce",  # declared brute-force baseline (GEMM-side)
    "text_tfidf_sim",  # 1-row corpus-size scalar broadcast into idf
    "eval_ndcg_mrr",  # consumes text_tfidf_sim as gold (same scalar broadcast)
    "text_pmi_bigrams",  # 1-row (n_bi, n_uni) corpus-total scalar broadcast
    "text_bm25_search",  # 1-row (n_docs, avgdl) scalar broadcast
    "search_hybrid_rrf",  # 1-row query-vector + bm25 scalar broadcasts
    "seq_funnel",  # cross of three 1-row stage counts
    "quality_perplexity",  # 1-row corpus-token-total scalar broadcast
    "agg_heavy_hitters",  # 1-row token-total scalar broadcast into the bound
}

registry.load_all()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_unjustified_nested_loop(spark, sf_dir, name):
    try:
        plan = physical_plan(registry.QUERIES[name](spark, sf_dir))
    except Exception:
        pytest.skip("no static batch plan (streaming or side-effect query)")
    bad = ("BroadcastNestedLoopJoin" in plan) or ("CartesianProduct" in plan)
    if name in BNLJ_ALLOWED:
        return  # justified; nothing to assert (plan may improve freely)
    assert not bad, f"{name} plans a nested-loop/cartesian join:\n{plan}"


def test_no_unconditional_full_repartition_in_package():
    """The r11 retirement, pinned: round-robin `repartition(
    defaultParallelism)` is a full-corpus reshuffle on a multi-split
    cluster read, so every spread MUST go through the conditional
    probes in sources.spread/load_spread (no-ops at scale). Keyed
    repartitions (repartitionByRange / repartition(n, col)) are
    algorithmic partitioning and stay allowed."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "skills_vectors_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        if py.name == "__init__.py" and py.parent.name == "sources":
            continue  # the probe implementation itself
        src = py.read_text()
        # Flag only SINGLE-argument .repartition(...defaultParallelism...)
        # calls — the round-robin full reshuffle. The keyed form
        # repartition(defaultParallelism, col) is hash partitioning
        # and stays allowed (advisor r11: the old [^)]* capture both
        # truncated at a nested call's ')' and rejected the keyed
        # form). Paren-balanced extraction of the full argument list:
        for m in re.finditer(r"\.repartition\(", src):
            depth, i = 1, m.end()
            top_commas = 0
            while i < len(src) and depth:
                ch = src[i]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 1:
                    top_commas += 1
                i += 1
            args = src[m.end() : i - 1]
            if top_commas == 0 and "defaultParallelism" in args:
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{py.relative_to(pkg)}:{line}")
    assert not offenders, (
        "unconditional round-robin repartition(defaultParallelism) "
        f"reintroduced at: {offenders} — use sources.spread/load_spread"
    )


def test_no_sources_internals_outside_sources():
    """Operators size their work through the public sources surface
    (plan_bytes, tasks_for, spread, load_spread); a private
    `sources._name` reached from another module is a second home of
    the spread rule in the making."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "skills_vectors_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        if py.parent.name == "sources":
            continue
        for n, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\bsources\._\w", line):
                offenders.append(f"{py.relative_to(pkg)}:{n}")
    assert not offenders, f"private sources members used at: {offenders}"


# The per-row passes that still take the sized spread target. Each
# count is the file's number of call sites.
SIZED_ALLOWED = {
    "operators/dedup.py": 2,  # shingle_sigs, dedup_substring
    "operators/relevance.py": 1,  # _term_freqs
}


def test_sized_spread_only_at_allowlisted_call_sites():
    """`load_spread(..., sized=True)` is the narrower spread target; a
    new sized caller (or one that moved back) must be argued onto the
    allowlist, and each row that leaves it shrinks the list."""
    import ast
    from collections import Counter
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "skills_vectors_spark"
    found = Counter()
    for py in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(py.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "attr", getattr(node.func, "id", None))
            sized = [kw.value for kw in node.keywords if kw.arg == "sized"] + node.args[3:4]
            if name == "load_spread" and not all(
                isinstance(v, ast.Constant) and v.value is False for v in sized
            ):
                found[py.relative_to(pkg).as_posix()] += 1
    assert not found - Counter(SIZED_ALLOWED), f"sized load_spread outside the allowlist: {found}"


def test_no_conf_writes_outside_session_module():
    """A session's conf is seen by every query planned on it, so an
    operator that needs other settings plans on a `session.scoped`
    clone. `.conf.set(` / `.conf.unset(` anywhere else writes shared
    state that a concurrent query would inherit."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "skills_vectors_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        if py == pkg / "session.py":
            continue
        for node in ast.walk(ast.parse(py.read_text())):
            func = node.func if isinstance(node, ast.Call) else None
            if (
                isinstance(func, ast.Attribute)
                and func.attr in ("set", "unset")
                and isinstance(func.value, ast.Attribute)
                and func.value.attr == "conf"
            ):
                offenders.append(f"{py.relative_to(pkg)}:{node.lineno}")
    assert not offenders, f"session conf written outside session.py: {offenders}"


def test_no_match_count_outside_pipeline():
    """pipeline.evaluate is the one count of top-k matches against a
    gold set; a caller projects or aggregates its output. A second
    count would be a second recall rule to keep in step with it.
    ann.backend_compare_report's per-backend count names its column
    n_hits."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "skills_vectors_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        if py == pkg / "pipeline.py":
            continue
        for node in ast.walk(ast.parse(py.read_text())):
            func = node.func if isinstance(node, ast.Call) else None
            if (
                isinstance(func, ast.Attribute)
                and func.attr == "alias"
                and any(isinstance(a, ast.Constant) and a.value == "n_match" for a in node.args)
            ):
                offenders.append(f"{py.relative_to(pkg)}:{node.lineno}")
    assert not offenders, f"match count outside pipeline.evaluate: {offenders}"


def _package_trees():
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "skills_vectors_spark"
    for py in sorted(pkg.rglob("*.py")):
        yield py.relative_to(pkg).as_posix(), ast.parse(py.read_text())


def test_every_register_decorates_a_module_level_function():
    """A row registers where it is defined, as a decorator on a
    module-level function: a register(...) call anywhere else (under
    an `if`, applied to a function later) can add or drop a row at
    import time."""
    import ast

    offenders = []
    for rel, tree in _package_trees():
        decorating = {
            id(d)
            for node in tree.body
            if isinstance(node, ast.FunctionDef)
            for d in node.decorator_list
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and (
                    (isinstance(node.func, ast.Name) and node.func.id == "register")
                    or (
                        isinstance(node.func, ast.Attribute)
                        and node.func.attr == "register"
                        and isinstance(node.func.value, ast.Name)
                        and node.func.value.id == "registry"
                    )
                )
                and id(node) not in decorating
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"register() outside a module-level decorator: {offenders}"


def test_stream_readers_take_the_table_schema():
    """A streaming file source needs an explicit schema; it is the
    table's one declared schema, `sources.SCHEMAS[...]`, never a
    second copy that can drift from the batch reader's."""
    import ast

    offenders = []
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            func = node.func if isinstance(node, ast.Call) else None
            if not (
                isinstance(func, ast.Attribute)
                and func.attr == "schema"
                and isinstance(func.value, ast.Attribute)
                and func.value.attr == "readStream"
            ):
                continue
            arg = node.args[0] if node.args else None
            if not (
                isinstance(arg, ast.Subscript)
                and isinstance(arg.value, ast.Attribute)
                and arg.value.attr == "SCHEMAS"
                and isinstance(arg.value.value, ast.Name)
                and arg.value.value.id == "sources"
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"readStream.schema without sources.SCHEMAS: {offenders}"


# String constants outside functions/text.py that may still spell the
# tokenization rule, each with its count: an oracle literal that would
# change bytes if it interpolated the shared fragments.
TOKENIZATION_ALLOWED = {
    # text_ngram_novelty's oracle spells [ \t\n\r\f] where DUCK_NORM
    # says \s; the two match the same characters in RE2
    "operators/corpusprep.py": 1,
}


def _code_strings(tree):
    """The tree's string constants, docstrings excluded."""
    import ast

    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in docs:
            yield node


def test_tokenization_rule_only_in_functions_text():
    """functions/text.py states the tokenization rule once for Spark,
    DuckDB and Python. Java's and Python's regex \\s match \\x0B and
    RE2's does not, so a module that spells its own \\s, its own
    lower-and-collapse, or its own whitespace class drifts from the
    oracles on control-character text."""
    import re
    from collections import Counter

    spelled = re.compile(
        r"\\[sS]"  # a regex whitespace class: \s or \S
        r"|regexp_replace\(lower\("  # a private normalization
        r"|\[\^?[^\]]*(\\t|\t)[^\]]*(\\f|\f)"  # a spelled-out whitespace class
    )
    found = Counter()
    for rel, tree in _package_trees():
        if rel == "functions/text.py" or rel.startswith("_vendor/"):
            continue
        for node in _code_strings(tree):
            if spelled.search(node.value):
                found[rel] += 1
    assert found == Counter(TOKENIZATION_ALLOWED), (
        f"tokenization spelled outside functions/text.py: {dict(found)}"
    )


# Oracle literals outside functions/vector.py that spell the distance
# rule themselves, each because interpolating DUCK_COSINE would change
# their bytes.
DISTANCE_ALLOWED = {
    # eval_recall_lsh's LSH replica re-ranks its vecs CTE, already DOUBLE[]
    ("operators/ann.py", "list_cosine_similarity(qv.emb, cv.emb)"),
    # the same replica's gold ranking, over the same pre-cast vecs
    ("operators/ann.py", "list_cosine_similarity(q.emb, c.emb)"),
    # search_hybrid_rrf's oracle wraps the call across two lines
    (
        "operators/relevance.py",
        "list_cosine_similarity(e.embedding::DOUBLE[],\n"
        "                                                 qv.embedding::DOUBLE[])",
    ),
}


def test_distance_rule_only_in_functions_vector():
    """functions/vector.py states the distance rule once, as the Spark
    folds and as their DuckDB twins (DUCK_COSINE, DUCK_L2, DUCK_NORM).
    A module that spells its own list_* kernel call or zip_with fold can
    drift from the other engine's casts or fold order."""
    import ast
    import re

    call = re.compile(r"(list_cosine_similarity|list_distance|list_inner_product|zip_with)\([^)]*\)?")
    found = set()
    for rel, tree in _package_trees():
        if rel == "functions/vector.py" or rel.startswith("_vendor/"):
            continue
        for node in _code_strings(tree):
            found.update((rel, m.group(0)) for m in call.finditer(node.value))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "zip_with":
                found.add((rel, f"F.zip_with at line {node.lineno}"))
    assert found == DISTANCE_ALLOWED, (
        "distance rule spelled outside functions/vector.py: "
        f"{sorted(found - DISTANCE_ALLOWED)}; allowlisted but gone: {sorted(DISTANCE_ALLOWED - found)}"
    )
