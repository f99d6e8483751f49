"""Tests of the benchmark's own logic; none of them starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import sparkstat  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
    BENCH = json.load(f)



@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    return d, datagen.make_tables(d, 7, ("documents", "embeddings"))


# -- generator -------------------------------------------------------

def test_same_seed_same_hash_other_seed_other_hash(tmp_path):
    a = datagen.make_tables(str(tmp_path / "a"), 3, ("documents",))
    b = datagen.make_tables(str(tmp_path / "b"), 3, ("documents",))
    c = datagen.make_tables(str(tmp_path / "c"), 4, ("documents",))
    assert a["content_hash"] == b["content_hash"]
    assert a["content_hash"] != c["content_hash"]
    assert a["tables"] == b["tables"]


def test_backlog_is_deterministic_and_log_uniform(tmp_path):
    a = datagen.make_backlog(str(tmp_path / "a"), 5, 0, 200)
    b = datagen.make_backlog(str(tmp_path / "b"), 5, 0, 200)
    c = datagen.make_backlog(str(tmp_path / "c"), 5, 1, 200)
    assert a == b and a["content_hash"] != c["content_hash"]
    sizes = datagen.backlog_sizes(5, 0, 200)
    assert sizes.min() >= 1024 and sizes.max() <= 256 * 1024
    assert a["bytes"] == sizes.sum() and a["files"] == 200


def test_manifest_counts_match_files(corpus):
    d, m = corpus
    for name, t in m["tables"].items():
        path = os.path.join(d, f"{name}.parquet")
        assert pq.ParquetFile(path).metadata.num_rows == t["rows"]
        assert os.path.getsize(path) == t["bytes"]
    base = datagen.BASE_ROWS
    assert m["tables"]["documents"]["rows"] == base["documents"]
    assert m["tables"]["embeddings"]["rows"] == base["embeddings"]
    assert m["tables"]["customer"]["rows"] == round(
        datagen.TINY * base["customer"])


def test_documents_carry_their_duplicate_shares(corpus):
    d, _ = corpus
    t = pq.read_table(os.path.join(d, "documents.parquet"))
    text = t.column("text").to_pylist()
    near = sum("dup" in s.split() for s in text) / len(text)
    assert abs(near - datagen.NEAR_DUP_SHARE) < 0.01
    assert len(set(text)) < len(text)                   # exact dups
    lengths = pc.utf8_length(t.column("text")).to_numpy()
    assert (lengths == t.column("n_chars").to_numpy()).all()


def test_planted_pairs_are_near_duplicates(corpus):
    d, _ = corpus
    t = pq.read_table(os.path.join(d, "documents.parquet"),
                      columns=["doc_id", "text"])
    texts = dict(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
    planted = datagen.planted_pairs(7)
    assert len(planted) > 100
    assert all(workloads.bigram_jaccard(texts[a], texts[b]) >= 0.6
               for a, b in planted)


# -- metric rules ----------------------------------------------------

def test_type_geomean_weights_types_equally():
    g = stats.type_geomean({"a": [1.0, 1.0, 1.0, 9.0, 1.0], "b": [4.0]})
    assert g == pytest.approx(2.0)


class _Clock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_self_time_subtracts_the_union_of_children():
    clock = _Clock()
    tr = stats.Tracer(True, clock=clock)
    with tr.span("job") as job:
        clock.t = 1.0
        with tr.span("build"):
            clock.t = 2.0
            with tr.span("load"):
                clock.t = 2.5
            clock.t = 4.0
        clock.t = 5.0
        with tr.span("exec"):
            clock.t = 7.0
        clock.t = 10.0
    # two children that overlap each other, one sticking out
    tr.spans.append(stats.Span("a", 2.0, 6.0, job.sid, None, 99))
    tr.spans.append(stats.Span("b", 5.0, 12.0, job.sid, None, 100))
    self_t = tr.self_times()
    by = {s.name: self_t[s.sid] for s in tr.spans}
    assert by["load"] == 0.5
    assert by["build"] == 2.5            # 3 s minus load's 0.5 s
    assert by["exec"] == 2.0
    assert by["job"] == 1.0              # 10 s minus the union [1, 10)
    assert [s.parent for s in tr.spans[:4]] == [None, 0, 1, 0]


def test_disabled_tracer_records_nothing():
    tr = stats.Tracer(False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_end_to_end_names_match_benchmark_json():
    jobs = [{"i": i, "type": t, "wall_s": 1.0 + i, "cpu_s": 2.0,
             "ok": True, "items": 10, "bytes": 2**20}
            for i, t in enumerate("abab")]
    e2e = run.summarize_e2e(jobs, 2.0, 100.0)
    assert list(e2e) == [m["name"] for m in BENCH["end_to_end"]]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: u for k, (_, u) in e2e.items()} == units
    assert e2e["setup_s"][0] == 2.0
    assert e2e["items_per_s"][0] == 40 / 10


def test_per_layer_names_match_benchmark_json():
    clock = _Clock()
    tr = stats.Tracer(True, clock=clock)
    for name in ("session.start", "catalog.attach", "session.warmup"):
        with tr.span(name):
            clock.t += 1
    jobs = []
    for i, traced in enumerate((True, False)):
        tr.job = i
        with tr.span("job"):
            clock.t += 1
        jobs.append({"i": i, "type": "ngram_lsh", "wall_s": 1.0,
                     "ok": True, "items": 5, "bytes": 7, "traced": traced,
                     "from_tables": True,
                     "exec": {"stages": 2, "task_s": 1.0,
                              "join_rows_max": 40, "output_rows": 10}})
    layers, per_type = run.per_layer(tr, jobs, ("ngram_lsh",), 3.0, 1.0, 4)
    assert sorted(layers) == sorted(m["name"] for m in BENCH["per_layer"])
    assert layers["dedup.verify_ratio"] == 0.25
    assert layers["session.start_s"] == 1.0
    assert set(per_type["ngram_lsh"]) <= set(layers)


def test_failures_count_per_output_or_per_job():
    drain = workloads.FileDrain()
    jobs = [{"ok": True, "outputs": 20, "failed_outputs": 1, "type": "d"},
            {"ok": False, "type": "d"}]
    assert run.count_failures(drain, jobs, {}) == (20 + drain.files_per_job,
                                                   1 + drain.files_per_job)
    corpus = workloads.CorpusDedup()
    jobs = [{"ok": True, "type": "a"}, {"ok": True, "type": "b"},
            {"ok": False, "type": "a"}]
    assert run.count_failures(corpus, jobs, {"a": True, "b": False}) == \
        (3, 2)


def test_process_age_counts_from_process_start():
    age = procstat.process_age_s()
    assert 0 < age < 24 * 3600
    assert procstat.process_age_s() >= age


def test_sql_metric_text_parsing():
    size = ("Some(total (min, med, max (stageId: taskId))\n"
            "783.3 KiB (195.8 KiB, 195.8 KiB, 195.8 KiB (stage 16.0: task"
            " 14)))")
    assert sparkstat.parse_size(size) == round(783.3 * 1024)
    assert sparkstat.parse_size("Some(1.5 MiB)") == round(1.5 * 2**20)
    assert sparkstat.parse_count("Some(100,000)") == 100_000
    assert sparkstat.parse_count("None") == 0


def test_benchmark_json_follows_its_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == \
        list(workloads.WORKLOADS)
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in BENCH["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
