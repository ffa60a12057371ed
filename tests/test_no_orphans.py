"""Reference scan: every top-level function and class in ``ckg_spark/`` is
used by non-test code.

An AST walk collects the package's top-level ``def``/``class`` names, then
looks for references to them in the package itself, ``scripts/``,
``bench.py``, ``__spark_entry__.py`` and ``perfbench/``. A reference is a
load of the name (``f(...)``, ``mod.f``) or a string constant equal to it
(``getattr``/``setattr`` patching). Imports and ``__all__`` entries do not
count (re-exporting a name is not using it), and neither do uses inside a
definition's own body. A decorated definition other than ``@dataclass`` is
skipped: its decorator registers it (the query catalog's ``@register``).

Library code that only tests call is dead weight: delete it, or list it in
``KEEP`` with the reason it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ckg_spark"
USERS = [
    PACKAGE,
    ROOT / "scripts",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "perfbench",
]

# "<module relative to ckg_spark>.<name>" -> why it stays with test-only callers
KEEP = {
    # references the tests certify the engine against
    "oracle.run_oracle": "single-process KG reference the pipeline P/R gates compare against",
    "oracle.precision_recall": "scores the pipeline against run_oracle",
    "ops.textstats.quality_score": "per-doc reference the quality-stats/keep tests pin the Spark path to",
    "canon.lsh.portable_hash64": "column spelling of the portable 64-bit hash; tests pin its DuckDB twin to it",
    "streaming.dedup.batch_first_per_fingerprint": "batch twin the streaming dedup test compares against",
    # pending ROADMAP item 2 (split heavy co-mention docs)
    "ops.skew.top_heavy_keys": "pending ROADMAP item 2: find the heavy documents",
    "ops.skew.salted_aggregate": "pending ROADMAP item 2: spread a heavy key's work",
    "ops.skew.salted_join": "pending ROADMAP item 2: salted probe-side join",
    # library API with no in-repo driver yet (CKG analytics/knowledge/report surface)
    "analysis.Analysis": "API-shape twin of CKG's Analysis container",
    "analysis.multi_correlation": "CKG run_multi_correlation operator",
    "knowledge.knowledge_from_regulation": "CKG knowledge-graph generator",
    "knowledge.knowledge_from_correlation": "CKG knowledge-graph generator",
    "knowledge.knowledge_from_annotations": "CKG knowledge-graph generator",
    "knowledge.knowledge_from_similarity": "CKG knowledge-graph generator",
    "knowledge.build_knowledge_graph": "unions the knowledge_from_* outputs",
    "report.generate_report": "CKG Dataset.generate_report entry point",
    "queries.yaml_catalog.run_query": "runs one YAML-catalog query against a warehouse",
    "queries.yaml_catalog.find_queries_involving_nodes": "CKG query_utils lookup",
    "queries.yaml_catalog.find_queries_involving_relationships": "CKG query_utils lookup",
    # operators and readers with no in-repo driver yet
    "ops.textstats.doc_stats": "per-document text statistics operator",
    "ops.cluster.linkage_matrix": "scipy-format dendrogram export of the MST clustering",
    "ops.multimodal.frame_sample_plan": "video frame-sampling plan operator",
    "sources.readers.read_xml_records": "XML source reader",
    "sources.readers.read_excel": "Excel source reader",
    "sources.readers.obo_hierarchy_df": "multi-parent OBO hierarchy reader",
    "streaming.dedup.streaming_first_per_fingerprint": "ingest-time exact dedup operator",
    "streaming.incremental.incremental_mentions": "micro-batch tagging of a page stream",
    "streaming.sessions.streaming_sessions": "Structured Streaming session windows",
    "sources.readers.read_tsv": "TSV source reader",
    "sources.readers.read_gzip_tsv_lines": "gzip TSV source reader",
    "sources.readers.read_fasta": "FASTA source reader",
    "sources.readers.obo_terms_df": "OBO term reader",
    # used only from source text the AST cannot see
    "extract.html_text.with_extracted_text": (
        "staged extract reference for the fused tag path; scripts/run_scaling.py "
        "calls it from a generated worker script held in a string"
    ),
}


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _definitions() -> dict[str, str]:
    """'<module>.<name>' -> name for every top-level function/class of the
    package that no decorator registers."""
    defs = {}
    for f in _py_files(PACKAGE):
        mod = ".".join(f.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(f.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if all(isinstance(d, ast.Name) and d.id == "dataclass" for d in node.decorator_list):
                defs[f"{mod}.{node.name}"] = node.name
    return defs


def _references() -> set[str]:
    """Names that non-test code references outside their own definition."""
    used: set[str] = set()
    for path in USERS:
        for f in _py_files(path):
            for top in ast.parse(f.read_text()).body:
                if isinstance(top, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__" for t in top.targets
                ):
                    continue  # re-exporting a name is not using it
                own = getattr(top, "name", None)
                for node in ast.walk(top):
                    if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                        names = [node.id]
                    elif isinstance(node, ast.Attribute):
                        names = [node.attr]
                    elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                        names = [node.value]
                    else:
                        continue
                    used.update(n for n in names if n != own)
    return used


def test_every_package_definition_has_a_non_test_reference():
    used = _references()
    orphans = sorted(k for k, name in _definitions().items() if name not in used and k not in KEEP)
    assert not orphans, f"defined in ckg_spark/ but referenced only by tests: {orphans}"


def test_keep_list_is_current():
    """A kept name that is gone, or now has a non-test reference, leaves KEEP."""
    defs, used = _definitions(), _references()
    stale = sorted(k for k in KEEP if k not in defs or defs[k] in used)
    assert not stale, f"KEEP entries that are no longer test-only: {stale}"
