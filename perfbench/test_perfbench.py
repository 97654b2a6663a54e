"""Tests of the benchmark's own code (no Spark needed):

  python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import measure  # noqa: E402


def _corpora(seed: int) -> list[gen.Corpus]:
    return [gen.pipeline_corpus(seed), *gen.daily_batches(seed)]


def test_same_seed_same_fingerprint():
    assert [gen.fingerprint(c) for c in _corpora(7)] == [
        gen.fingerprint(c) for c in _corpora(7)
    ]


def test_other_seed_other_fingerprint():
    for a, b in zip(_corpora(7), _corpora(8)):
        assert gen.fingerprint(a) != gen.fingerprint(b)


def test_seed_changes_content_not_shape():
    for a, b in zip(_corpora(1), _corpora(2)):
        assert len(a.rows) == len(b.rows)
        assert sorted(p["kind"] for p in a.pairs) == sorted(p["kind"] for p in b.pairs)


def test_planted_truth_is_consistent():
    c = gen.pipeline_corpus(3)
    group = {t["url"]: t["group"] for t in c.truth}
    assert len(group) == len(c.rows)
    for p in c.pairs:
        assert p["url_a"] < p["url_b"]
        assert group[p["url_a"]] == group[p["url_b"]] is not None
    ambiguous = [r for r in c.rows if not r["text"] or len(r["text"]) < 9]
    assert ambiguous and all(group[r["url"]] is None for r in ambiguous)


def test_templated_pages_share_no_field():
    # a shared field would join two template runs into a >= 120-byte
    # common substring: a real substring duplicate the truth calls unique
    c = gen.pipeline_corpus(3)
    pages = [r["text"].split(" ") for r in c.rows
             if r["text"] and len(r["text"].split(" ")) == 13 * 9]
    assert len(pages) == gen.DUPHEAVY.boilerplate
    fields = [w for words in pages for w in words[8::9]]
    assert len(fields) == len(set(fields))


def test_daily_pairs_cross_batches():
    parts = gen.daily_batches(4)
    batch_of = {r["url"]: i for i, p in enumerate(parts) for r in p.rows}
    pairs = [p for part in parts for p in part.pairs]
    assert pairs
    assert all(batch_of[p["url_a"]] != batch_of[p["url_b"]] for p in pairs)
    assert not any(part.pairs for part in parts[: gen.DAILY.base_calls])


def test_daily_near_copies_change_one_token():
    c = gen.merged(gen.daily_batches(4))
    text = {r["url"]: r["text"] for r in c.rows}
    near = [p for p in c.pairs if p["kind"] == "near"]
    assert near
    for p in near:
        a, b = text[p["url_a"]].split(" "), text[p["url_b"]].split(" ")
        assert len(a) == len(b) == gen.DAILY.doc_words
        assert sum(x != y for x, y in zip(a, b)) <= gen.DAILY.near_edits


def test_write_round_trips(tmp_path):
    c = gen.pipeline_corpus(5)
    paths = gen.write(c, str(tmp_path))
    assert pq.read_table(paths["pages"]).to_pylist() == c.rows
    assert pq.read_table(paths["truth"]).to_pylist() == c.truth
    assert pq.read_table(paths["pairs"]).to_pylist() == c.pairs


def test_quantile_nearest_rank():
    assert measure.quantile([3.0, 1.0, 2.0], 0.9) == 3.0
    assert measure.quantile(list(range(1, 11)), 0.9) == 9


def test_layer_metrics_from_event_log(tmp_path):
    # two jobs in one span's group, one job outside every span
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Disk Bytes Spilled": 2**20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 11_500,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 12_000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 12_000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 13_000},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    jobs = measure.read_event_log(str(tmp_path))
    span = measure.Span("lsh", "g1", 9.5, 12.5, rows_out=42)
    m = measure.layer_metrics([span], jobs, ("lsh", "verify"))
    assert m["lsh.jobs"] == 2
    assert m["lsh.wall_s"] == 3.0
    assert abs(m["lsh.gap_s"] - 1.5) < 1e-9  # 3.0 s span, 1.5 s of jobs
    assert m["lsh.task_s"] == 1.5
    assert m["lsh.shuffle_mb"] == 2.0 and m["lsh.spill_mb"] == 1.0
    assert m["lsh.rows_out"] == 42
    assert m["verify.wall_s"] == 0.0 and m["verify.jobs"] == 0


def test_rss_sampler_sees_this_process():
    with measure.RssSampler(interval_s=0.01) as rss:
        assert rss.window() > 1.0  # MB
