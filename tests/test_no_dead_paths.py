"""No code path without a caller: every module-level function in
bran_spark/ or jobs/ is named somewhere in the program — bran_spark/,
jobs/, bench.py, __spark_entry__.py or perfbench/. Tests do not count as
callers: a helper that only tests reach is a second implementation kept
in step for nothing. Registry entries (``@_q``) are called through
``QUERIES`` and are exempt."""

from __future__ import annotations

import ast
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DEFINING = ("bran_spark", "jobs")
_CALLING = ("bran_spark", "jobs", "bench.py", "__spark_entry__.py", "perfbench")

# Kept without a program caller, each for its reason. Keys are paths
# relative to the repo root; a directory entry covers every module in it.
_ALLOWED: dict[str, set[str] | None] = {
    # the streaming stack: the incremental (Structured Streaming) form of
    # the pipeline and its monitors, a capability family that no batch job
    # drives; tests/test_streaming_multimodal.py runs each one
    "bran_spark/streaming": None,
    # the multimodal samplers: the video-frame and audio-window halves of
    # the media plumbing, the seams a real decoder plugs into
    "bran_spark/operators/multimodal.py": {"sample_video_frames", "audio_window_energy"},
    # the PubTator reader: bran's own input format (BioCreative CDR)
    "bran_spark/sources/pubtator.py": {"pubtator_tables"},
    # the padded, masked batch encoder: the reference the scorer's solo
    # encode_one is pinned bitwise against, and the batch arm of
    # tools/encoder_concurrency_bench.py
    "bran_spark/model/encoder.py": {"encode_batch"},
    # Test-only helpers through which tests pin other behaviour, left for
    # a later deletion round that moves those tests onto program paths:
    # the relational J5 mention-to-token alignment (the rule the scorer
    # applies per document) and the (i, j, cov) view of the Gram partials
    # pca_project reads.
    "bran_spark/operators/mentions.py": {"align_mentions_to_tokens"},
    "bran_spark/operators/similarity.py": {"gram_covariance"},
}


def _py_files(top: str):
    path = os.path.join(_ROOT, top)
    if os.path.isfile(path):
        yield path
        return
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _is_registry_entry(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "_q"
        for d in fn.decorator_list
    )


def _allowed(rel: str, name: str) -> bool:
    for key, names in _ALLOWED.items():
        if rel == key or rel.startswith(key + "/"):
            if names is None or name in names:
                return True
    return False


def _referenced_names() -> set[str]:
    """Every name the program loads, reads as an attribute or imports."""
    names: set[str] = set()
    for top in _CALLING:
        for path in _py_files(top):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_module_function_has_a_program_caller():
    """The check walks the syntax tree, so a name in a comment or a
    docstring is not a caller."""
    referenced = _referenced_names()
    uncalled = []
    for top in _DEFINING:
        for path in _py_files(top):
            rel = os.path.relpath(path, _ROOT).replace(os.sep, "/")
            for node in _parse(path).body:
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and node.name not in referenced
                    and not _is_registry_entry(node)
                    and not _allowed(rel, node.name)
                ):
                    uncalled.append(f"{rel}:{node.lineno} {node.name}")
    assert not uncalled, uncalled
