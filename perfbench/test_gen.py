"""Input-generator tests; no Spark needed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.gen import digest  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CURATION,
    INPUTS,
    QUERIES,
    REFRESH_ROUNDS,
    curation_inputs,
    refresh_inputs,
    retrieval_inputs,
)


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_same_seed_same_digest(name):
    assert digest(INPUTS[name](7)) == digest(INPUTS[name](7))


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_other_seed_other_digest(name):
    assert digest(INPUTS[name](7)) != digest(INPUTS[name](8))


def _normalized(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def test_planted_duplicates_are_recorded_truthfully():
    for docs, planted in curation_inputs(3)["shards"][:2]:
        by_id = {d["doc_id"]: d for d in docs}
        assert len(docs) == CURATION.docs_per_shard
        kinds = [p["kind"] for p in planted]
        assert kinds.count("exact") == round(CURATION.exact_dup_share * len(docs))
        assert kinds.count("near") == round(CURATION.near_dup_share * len(docs))
        for p in planted:
            orig, dup = by_id[p["orig_id"]], by_id[p["dup_id"]]
            assert p["orig_id"] < p["dup_id"]
            a, b = _normalized(orig["text"]), _normalized(dup["text"])
            if p["kind"] == "exact":
                assert a == b
            else:
                wa, wb = a.split(" "), b.split(" ")
                assert len(wa) == len(wb)
                changed = sum(x != y for x, y in zip(wa, wb))
                assert changed <= max(1, round(CURATION.near_dup_edit * len(wa)))


def test_refresh_rounds_apply_their_shares():
    inputs = refresh_inputs(5)
    live = {d["doc_id"]: d["text"] for d in inputs["base"]}
    assert len(inputs["rounds"]) == REFRESH_ROUNDS.rounds
    for r in inputs["rounds"]:
        n = len(live)
        assert len(r["changed"]) == round(REFRESH_ROUNDS.changed * n)
        assert len(r["added"]) == round(REFRESH_ROUNDS.added * n)
        assert len(r["removed"]) == round(REFRESH_ROUNDS.removed * n)
        after = {d["doc_id"]: d["text"] for d in r["docs"]}
        assert set(after) == (set(live) - set(r["removed"])) | set(r["added"])
        assert all(after[i] != live[i] for i in r["changed"])
        live = after


def test_query_stream_repeat_share():
    q = retrieval_inputs(9)["queries"]
    pool = set(q["pool"])
    texts = [arg for kind, arg in q["stream"] if kind != "find_similar"]
    share = sum(t in pool for t in texts) / len(texts)
    assert abs(share - QUERIES.repeat_share) < 0.05
    kinds = [kind for kind, _ in q["stream"]]
    assert kinds[:3] == ["search", "ann_search", "find_similar"]
