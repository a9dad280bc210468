"""Library code that only tests reach, kept as a list that can only shrink.

A top-level def in ``casf_spark`` is reached when its name is referenced
from a root (``__spark_entry__.py``, ``bench.py``, the non-test
``perfbench/*.py``, ``examples/*.py``, ``scripts/*.py``), from the
module-level code of ``casf_spark``, or from the body of a reached def.
Names match by their last component, so the scan errs toward "reached".
Pure AST: no JVM is started.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# def (dotted path under casf_spark) -> why it stays although no root
# reaches it: readme = a capability the README's package table names;
# tests = a helper that exists for the tests; helper = private to another
# entry here; staged = written for a query not yet registered;
# unclaimed = none of these, next in line for deletion.
ALLOWED_UNREACHED = {
    "functions.text._series_pandas_udf": "helper",
    "functions.text.dict_tokenizer": "readme",
    "functions.text.jieba_tokenizer": "readme",
    "multimodal.binary.resize_images": "readme",
    "multimodal.binary.sample_frames": "readme",
    "operators.curation.boilerplate_strip": "readme",
    "operators.curation.pii_features": "readme",
    "operators.curation.redact_pii": "readme",
    "operators.dedup.dedup_keep_representatives": "unclaimed",
    "operators.dedup.exact_duplicates": "readme",
    "operators.dedup.line_dedup": "readme",
    "operators.dedup.oversize_blocks": "readme",
    "operators.dedup.semantic_dedup": "readme",
    "operators.relevance.heldout_kneser_ney_logprob": "staged",
    "operators.sampling.deterministic_sample": "readme",
    "operators.similarity.hyperplane_signature": "readme",
    "operators.urls.public_suffix_table": "readme",
    "plans.inspect.assert_no_cartesian": "tests",
    "plans.inspect.broadcast_join_count": "tests",
    "plans.inspect.explain_str": "tests",
    "plans.inspect.pushed_filters": "tests",
    "plans.inspect.scan_read_schema": "tests",
    "sources.jsonl.JsonlDocsSource": "readme",
    "sources.jsonl.JsonlReader": "helper",
    "sources.jsonl._FilePartition": "helper",
    "sources.jsonl.register": "readme",
    "sources.text.read_csv": "readme",
    "sources.text.read_json": "readme",
    "sources.text.read_orc": "readme",
    "sources.text.read_parquet_evolving": "readme",
    "sources.text.read_stopwords": "readme",
    "sources.text.read_text_documents": "readme",
    "sources.text.read_text_lines": "readme",
    "sources.text.write_orc": "readme",
    "streaming.curation._index_nonempty": "helper",
    "streaming.curation.bloom_dedup_stream_against_index": "readme",
    "streaming.curation.cms_merged_estimates": "readme",
    "streaming.curation.cms_stream_counts": "readme",
    "streaming.curation.dedup_stream_against_index": "readme",
    "streaming.curation.hist_merged_quantiles": "readme",
    "streaming.curation.hist_stream_sketch": "readme",
    "streaming.curation.near_dedup_stream_against_index": "readme",
    "streaming.events.clicks_before_purchases": "unclaimed",
    "streaming.events.dedup_stream": "readme",
    "streaming.events.enrich_with_dimension": "readme",
    "streaming.events.read_events_stream": "readme",
    "streaming.events.run_stream_append_to_memory": "readme",
    "streaming.events.run_stream_to_memory": "readme",
    "streaming.events.write_stream_parquet": "readme",
    "streaming.events.write_stream_upsert": "readme",
    "streaming.kafka.events_as_kafka_wire": "readme",
    "streaming.kafka.kafka_reader_options": "readme",
    "streaming.kafka.parse_kafka_events": "readme",
    "streaming.kafka.read_events_kafka": "readme",
    "streaming.kafka.write_events_kafka": "readme",
    "streaming.sessions.track_sessions": "readme",
    "streaming.stateful.UserLifetimeStats": "helper",
    "streaming.stateful._has_tws_runtime": "helper",
    "streaming.stateful.user_lifetime_stats": "readme",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _unreached() -> set[str]:
    pkg = REPO / "casf_spark"
    defs, refs = {}, set()
    for path in sorted(pkg.rglob("*.py")):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[f"{mod}.{node.name}"] = node
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                refs |= _names(node)
    roots = [REPO / "__spark_entry__.py", REPO / "bench.py",
             *(p for p in (REPO / "perfbench").glob("*.py")
               if not p.name.startswith("test_")),
             *(REPO / "examples").glob("*.py"),
             *(REPO / "scripts").glob("*.py")]
    for path in roots:
        refs |= _names(ast.parse(path.read_text()))
    reached: set[str] = set()
    while True:
        new = {q for q, node in defs.items()
               if q not in reached and q.rsplit(".", 1)[1] in refs}
        if not new:
            return set(defs) - reached
        reached |= new
        for q in new:
            refs |= _names(defs[q])


def test_no_new_test_only_library_code():
    extra = sorted(_unreached() - set(ALLOWED_UNREACHED))
    assert not extra, (
        f"no query, benchmark, example or script reaches {extra}: call "
        f"them from one, or delete them with their tests")


def test_allowlist_only_shrinks():
    stale = sorted(set(ALLOWED_UNREACHED) - _unreached())
    assert not stale, (
        f"{stale} are reached now or gone: drop them from "
        f"ALLOWED_UNREACHED")
