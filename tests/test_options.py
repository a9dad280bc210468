"""Keyword options that no caller sets, kept as an exact list.

A keyword option is a parameter with a default, of a def in
``casf_spark`` outside ``casf_spark/queries/``. It is *set* when a call
anywhere in the repo passes it, by keyword or by position: the library
itself, the registered queries, ``__spark_entry__.py``, ``bench.py``,
``perfbench/``, ``examples/``, ``scripts/`` and ``tests/`` all count.
Calls match a def by the called name's last component (a class call
matches its ``__init__``), and a call with ``*args`` or ``**kwargs``
sets every option it could reach, so the scan errs toward "set". An
option that nothing sets is a constant: write it as one, unless it is
listed below with its reason. Pure AST: no JVM is started.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# reason -> def (dotted path under casf_spark) -> its unset options:
# column = binds a column name of the caller's frame; deploy = a
# deployment setting (session, write mode, user dictionary path); out =
# an out-parameter the caller reads back. No other reason is accepted.
ALLOWED_UNSET = {
    "column": {
        "multimodal.binary.dhash_rgb24": ("payload_col",),
        "multimodal.binary.pair_integrity":
            ("id_col", "payload_col", "caption_col"),
        "multimodal.binary.pcm_energy_fingerprint": ("payload_col",),
        "operators.classify.calibration_report": ("label_col",),
        "operators.curation.quantile_match": ("ref_score_col",),
        "operators.curation.rank_buckets": ("bucket_col",),
        "operators.curation.unigram_lm_segment": ("piece_col", "score_col"),
        "operators.dedup.connected_components": ("id0", "id1"),
        "operators.dedup.embedding_near_dups": ("id_col", "vec_col"),
        "operators.dedup.first_stage_attribution": ("out_col",),
        "operators.dedup.kcore": ("id0", "id1"),
        "operators.dedup.keep_cluster_representative":
            ("id_col", "cluster_col"),
        "operators.dedup.label_propagation": ("id0", "id1"),
        "operators.dedup.pagerank_iterations": ("id0", "id1"),
        "operators.dedup.semantic_dedup_det": ("id_col", "vec_col"),
        "operators.pipeline.curate_documents": ("id_col", "text_col"),
        "operators.profile.cluster_term_profile":
            ("id_col", "text_col", "vec_id_col", "vec_col"),
        "operators.relevance.hard_negative_mine":
            ("id_col", "vec_col", "label_col"),
        "operators.relevance.knn_classify": ("id_col", "vec_col", "label_col"),
        "operators.relevance.label_centroid_outliers":
            ("id_col", "vec_col", "label_col"),
        "operators.relevance.rrf_fuse": ("id_col", "rank_col"),
        "operators.sampling.assign_splits": ("out_col",),
        "operators.similarity.embedding_prep_report": ("id_col", "vec_col"),
        "operators.similarity.facility_location_select": ("id_col", "vec_col"),
        "operators.similarity.ivf_pq_topk": ("id_col", "vec_col"),
        "operators.similarity.ivf_topk": ("id_col", "vec_col"),
        "operators.similarity.ivf_topk_det": ("id_col", "vec_col"),
        "operators.similarity.kcenter_select": ("id_col", "vec_col"),
        "operators.similarity.kcenter_select_batched": ("id_col", "vec_col"),
        "operators.similarity.lsh_candidates_multiprobe":
            ("id_col", "vec_col"),
        "operators.similarity.lsh_topk": ("id_col", "vec_col"),
        "operators.similarity.quantize_embeddings_int8": ("id_col", "vec_col"),
        "operators.sketches.cms_estimate": ("out_col",),
        "operators.urls.registered_domain_join": ("out_col",),
        "sources.tables.matrix_from_lineitem": ("y", "x", "value"),
        "sources.tables.normalize_ts": ("col",),
        "streaming.curation.bloom_dedup_replay_batches":
            ("id_col", "text_col"),
        "streaming.curation.cms_replay_batches": ("item_col", "text_col"),
        "streaming.curation.near_dedup_replay_batches": ("id_col", "text_col"),
    },
    "deploy": {
        "functions.text.jieba_tokenizer": ("user_dict",),
        "session.get_spark": ("master", "shuffle_partitions"),
        "sources.text.write_parquet": ("mode",),
        "sources.text.write_sorted_bucketed_table": ("mode",),
    },
    "out": {
        "operators.similarity.kcenter_select_batched": ("stats",),
    },
}


def _options() -> dict[str, tuple[str, list[tuple[str, int | None]]]]:
    """def path -> (the name its calls use, [(option, position or None)]);
    positions count the arguments a call passes, so ``self`` is not one."""
    pkg = REPO / "casf_spark"
    queries = set((pkg / "queries").glob("*.py"))
    out = {}

    def visit(body, prefix, cls=None):
        for node in body:
            if isinstance(node, ast.ClassDef):
                visit(node.body, f"{prefix}.{node.name}", node.name)
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                pos = a.posonlyargs + a.args
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in node.decorator_list)
                skip = 1 if cls and not static else 0
                first = len(pos) - len(a.defaults)
                opts = [(p.arg, i - skip) for i, p in enumerate(pos)
                        if i >= first]
                opts += [(p.arg, None) for p, d in zip(a.kwonlyargs,
                                                       a.kw_defaults)
                         if d is not None]
                if opts:
                    called = cls if cls and node.name == "__init__" \
                        else node.name
                    out[f"{prefix}.{node.name}"] = (called, opts)
                visit(node.body, f"{prefix}.{node.name}")

    for path in sorted(set(pkg.rglob("*.py")) - queries):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        visit(ast.parse(path.read_text()).body, mod)
    return out


def _calls() -> dict[str, list[ast.Call]]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py",
             *(REPO / "casf_spark").rglob("*.py"),
             *(REPO / "perfbench").glob("*.py"),
             *(REPO / "examples").glob("*.py"),
             *(REPO / "scripts").glob("*.py"),
             *(REPO / "tests").glob("*.py")]
    out: dict[str, list[ast.Call]] = {}
    for path in files:
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Call):
                f = n.func
                name = (f.id if isinstance(f, ast.Name) else
                        f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    out.setdefault(name, []).append(n)
    return out


def _sets(call: ast.Call, option: str, position: int | None) -> bool:
    if any(k.arg in (option, None) for k in call.keywords):
        return True
    return position is not None and (
        len(call.args) > position
        or any(isinstance(a, ast.Starred) for a in call.args))


def _unset() -> set[str]:
    calls = _calls()
    return {f"{path}({opt})"
            for path, (called, opts) in _options().items()
            for opt, pos in opts
            if not any(_sets(c, opt, pos) for c in calls.get(called, []))}


def _allowed() -> set[str]:
    return {f"{path}({opt})" for defs in ALLOWED_UNSET.values()
            for path, opts in defs.items() for opt in opts}


def test_unset_options_equal_allowlist():
    unset, allowed = _unset(), _allowed()
    new = sorted(unset - allowed)
    stale = sorted(allowed - unset)
    assert not new, (
        f"no caller sets {new}: make each the constant it defaults to, "
        f"or list it in ALLOWED_UNSET with its reason")
    assert not stale, (
        f"{stale} are set by a caller now, or gone: drop them from "
        f"ALLOWED_UNSET")


def test_allowlist_reasons_are_known():
    assert set(ALLOWED_UNSET) <= {"column", "deploy", "out"}
