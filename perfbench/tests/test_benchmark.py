"""The benchmark's own tests: the generators are pure functions of the
seed (the same seed gives byte-identical input files, another seed
different ones), and BENCHMARK.json names the metrics run.py prints.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SMALL = {
    "company_names": (gen.gen_company_names, {"rows": 300}),
    "corpus_curate": (gen.gen_corpus, {"docs": 300}),
    "embedding_dedup": (gen.gen_embeddings, {"rows": 300}),
    "stream_ingest": (gen.gen_stream, {"base_docs": 100, "batches": 3, "batch_docs": 10}),
}


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


@pytest.mark.parametrize("name", sorted(SMALL))
def test_same_seed_same_bytes(name, tmp_path):
    fn, kw = SMALL[name]
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    props_a, _ = fn(str(a), 7, **kw)
    props_b, _ = fn(str(b), 7, **kw)
    fn(str(c), 8, **kw)
    assert _digest(str(a)) == _digest(str(b))
    assert props_a == props_b
    assert _digest(str(a)) != _digest(str(c))


def test_planted_near_copies_hit_their_levels(tmp_path):
    _, truth = gen.gen_corpus(str(tmp_path), 3, docs=2000)
    for level in (0.15, 0.25, 0.5, 0.8):
        js = [p["j"] for p in truth["planted"] if p["kind"] == f"near{level}"]
        assert js and abs(sorted(js)[len(js) // 2] - level) < 0.1


def test_benchmark_json_matches_the_metrics_run_prints():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    for w in bench["workloads"]:
        assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
            run.per_layer_metrics(w["name"])
