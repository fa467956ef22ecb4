"""Tests of the benchmark harness itself: seeded inputs, output checks and
the metric names it prints.  No Spark session is started."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
for p in (ROOT, BENCH_DIR):
    if p not in sys.path:
        sys.path.insert(0, p)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- generators -------------------------------------------------------

def test_documents_are_deterministic_per_seed():
    a = inputs.document_rows(7, 400, 0.1)
    assert a == inputs.document_rows(7, 400, 0.1)
    assert a != inputs.document_rows(8, 400, 0.1)
    assert [r["doc_id"] for r in a] == list(range(400))
    assert all(r["n_chars"] == len(r["text"]) for r in a)
    copies = sum(r["text"].endswith(" dup") for r in a)
    assert 20 <= copies <= 60  # ~10% of 400
    words = {w for r in a for w in r["text"].split()}
    assert words <= set(inputs.SF01_UNIGRAMS)


def test_documents_table_is_cached_by_seed_and_size(tmp_path):
    p = inputs.documents_table(str(tmp_path), 3, 50, 0.1)
    assert inputs.documents_table(str(tmp_path), 3, 50, 0.1) == p
    assert inputs.documents_table(str(tmp_path), 3, 60, 0.1) != p
    assert checks.count_rows(p) == 50


def _corpus(path: str) -> tuple[list, list]:
    pages = checks.rows(f"SELECT url, text FROM read_parquet("
                        f"'{checks.parquet_src(path + '/pages.parquet')}') ORDER BY url")
    links = sorted(checks.golden_links(path))
    return pages, links


def test_page_corpus_is_deterministic_per_seed(tmp_path):
    from entity_extraction_svc_spark import fixtures

    seed_before = fixtures.SEED
    a = inputs.page_corpus(str(tmp_path / "a"), 5, 40, 4)
    b = inputs.page_corpus(str(tmp_path / "b"), 5, 40, 4)
    c = inputs.page_corpus(str(tmp_path / "c"), 6, 40, 4)
    assert fixtures.SEED == seed_before
    assert os.path.isdir(a + "/pages.parquet")  # sharded
    assert _corpus(a) == _corpus(b)
    assert _corpus(a) != _corpus(c)


# ---- output checks ------------------------------------------------------

GOLD = {("u1", 0, 4, "Q1"), ("u1", 9, 12, "Q2"), ("u2", 3, 7, "Q3")}


def test_dropped_linked_row_fails():
    assert checks.set_verdict("links", set(GOLD), GOLD) is None
    dropped = set(sorted(GOLD)[1:])
    assert checks.set_verdict("links", dropped, GOLD)
    s = checks.score(dropped, GOLD)
    assert s["precision"] == 1.0 and s["recall"] == pytest.approx(2 / 3)


def test_altered_text_byte_fails():
    want = {"u1": "Mona Lisa.", "u2": "SpaceX Dragon."}
    assert checks.text_verdict(dict(want), want) == (1.0, None)
    got = dict(want, u2="SpaceX Dragon,")
    share, reason = checks.text_verdict(got, want)
    assert share == 0.5 and reason
    assert checks.text_verdict(dict(want, u3="x"), want)[1]  # extra url


def test_lineage_checks_catch_duplicates_and_wrong_counts():
    rows = [("r1", "u1", 2), ("r1", "u2", 0), ("r2", "u3", 1)]
    commits = [(0, {"run_id": "r1", "n_pages": 2}),
               (1, {"run_id": "r2", "n_pages": 1})]
    gold = {"u1": 2, "u3": 1}
    assert checks.lineage_verdicts(rows, commits, gold) == ({}, None, 1.0)
    fails, once, share = checks.lineage_verdicts(
        rows + [("r2", "u1", 2)], [(0, commits[0][1]),
                                   (1, {"run_id": "r2", "n_pages": 2})], gold)
    assert once and not fails
    fails, once, share = checks.lineage_verdicts(
        [("r1", "u1", 1)] + rows[1:], commits, gold)
    assert list(fails) == [0] and share < 1.0


def _round() -> tuple[dict, dict]:
    out = {
        "ngram": [{"id_a": 1, "id_b": 2, "jaccard": 0.75}],
        "minhash": [{"id_a": 1, "id_b": 2, "est_jaccard": 0.5625}],
        "pack": [{"seq_id": 0, "doc_id": 1, "tok_start": 0, "tok_end": 5,
                  "seq_pos": 0, "n_tokens": 5}],
        "stats": [{"doc_id": 1, "n_chars": 10, "n_ws_tokens": 2,
                   "n_re_tokens": 2, "punct_ratio": 0.0, "stopword_ratio": 0.5,
                   "mean_token_len": 4.5, "quality_score": 0.5}],
    }
    want = {
        "ngram": [{"id_a": 1, "id_b": 2, "jaccard": 0.75}],
        "minhash": [{"a": 1, "b": 2, "score": 0.5625}],
        "pack": [{"seq_id": 0, "doc_id": 1, "tok_start": 0.0, "tok_end": 5.0,
                  "seq_pos": 0.0, "n_tokens": 5}],
        "stats": [{"doc_id": 1, "n_chars": 10, "n_ws_tokens": 2,
                   "n_re_tokens": 2, "punct_ratio": 0.0, "stopword_ratio": 0.5,
                   "mean_token_len": 4.5, "quality_score": 0.5,
                   "lang_pred": "en"}],
    }
    return out, want


def test_curation_round_checks():
    out, want = _round()
    assert workloads.judge_round(out, want)[1:] == (1.0, None)
    out["ngram"] = []
    assert workloads.judge_round(out, want)[2]
    out, want = _round()
    out["stats"][0]["quality_score"] = 0.51
    _, share, reason = workloads.judge_round(out, want)
    assert share == 0.0 and reason


class _Stub(workloads.Workload):
    name = "stub"
    phases = (workloads.Phase("p", min_ops=1, by_seconds=False),)
    throughput_phase = latency_phase = "p"

    def check(self, spark, ops):
        fails = {}
        for i, out in workloads._outputs(ops, "p"):
            _, _, reason = workloads.judge_round(out, _round()[1])
            if reason:
                fails[i] = reason
        return {"quality": {"precision": 1.0, "recall": 1.0, "exact_share": 1.0},
                "op_failures": fails, "checks": []}


def _ops(output) -> list[dict]:
    return [{"kind": "op", "phase": "p", "name": "p0", "index": 0, "docs": 10,
             "output": output, "latency_s": 2.5, "steal_s": 0.5, "error": None}]


def test_a_corrupted_output_counts_as_failed():
    wl = _Stub("w", "c", 1)
    good = run.check_phase(wl, None, _ops(_round()[0]))
    assert good["failed"] == 0
    assert run.end_to_end_values(wl, 1.0, _ops(None), good)["ok_share"] == 1.0
    bad_out = _round()[0]
    bad_out["pack"][0]["tok_end"] = 4
    bad = run.check_phase(wl, None, _ops(bad_out))
    assert bad["failed"] == 1
    assert run.end_to_end_values(wl, 1.0, _ops(None), bad)["ok_share"] < 1.0


# ---- metric names ---------------------------------------------------------

def test_printed_metric_names_match_benchmark_json():
    bench = _bench()
    wl = _Stub("w", "c", 1)
    checked = run.check_phase(wl, None, _ops(_round()[0]))
    e2e = run.end_to_end_values(wl, 2.0, _ops(None), checked)
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    assert e2e["docs_per_s"] == 5.0 and e2e["setup_s"] == 2.0
    run.metric_block(bench["end_to_end"], e2e)  # raises on a mismatch
    layers = set(run.RUN_LAYER_METRICS)
    for cls in workloads.WORKLOADS.values():
        layers |= set(cls("w", "c", 1).layer_metrics([], [], [], {}))
    assert layers == {m["name"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_metric_block_rejects_unknown_names():
    with pytest.raises(SystemExit):
        run.metric_block(_bench()["end_to_end"], {"docs_per_s": 1.0})


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout


# ---- stage ledger and spans -------------------------------------------------

def _events() -> list[dict]:
    def stage(sid, scope, run_ms, tasks, shuffle):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Number of Tasks": tasks, "Submission Time": 1000,
            "Completion Time": 1500,
            "RDD Info": [{"Scope": json.dumps({"id": "1", "name": scope})}],
            "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
                {"Name": "internal.metrics.shuffle.write.recordsWritten",
                 "Value": shuffle}]}}

    def job(jid, stages, group, t0, t1):
        return [{"Event": "SparkListenerJobStart", "Job ID": jid,
                 "Stage IDs": stages, "Submission Time": t0,
                 "Properties": {"spark.jobGroup.id": group}},
                {"Event": "SparkListenerJobEnd", "Job ID": jid,
                 "Completion Time": t1}]

    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Info": {"Launch Time": 0, "Finish Time": 40}}
    slow = dict(task, **{"Task Info": {"Launch Time": 0, "Finish Time": 120}})
    return (job(0, [0], "-1|fused", 0, 100)[:1] + [task, task, slow]
            + [stage(0, "MapInPandas", 200, 3, 0)] + job(0, [0], "-1|fused", 0, 100)[1:]
            + job(1, [1], "0|ngram", 100, 400)[:1] + [stage(1, "Exchange", 50, 4, 70)]
            + job(1, [1], "0|ngram", 100, 400)[1:]
            + job(2, [2], "check", 400, 450))


def test_stage_ledger_keys_rows_by_group():
    import ledger

    stages, jobs = ledger.stage_ledger(_events()), ledger.job_ledger(_events())
    assert [s["group"] for s in stages] == ["-1|fused", "0|ngram"]
    assert stages[0]["task_s"] == 0.2 and stages[0]["task_max_over_median"] == 3.0
    assert [ledger.timed(s) for s in stages] == [False, True]
    assert ledger.per_op(stages, "ngram", "shuffle_records") == [70]
    assert ledger.per_op(jobs, "ngram", "wall_s") == [0.3]
    assert ledger.per_op(jobs, "fused", "wall_s") == []  # set-up is op -1


def test_spans_time_and_restore_wrapped_attributes():
    import types

    import ledger

    mod = types.SimpleNamespace(f=lambda x: [x, x])
    original = mod.f
    spans = ledger.Spans()
    seen = []
    spans.wrap(mod, "f", "f", on_result=lambda out: spans.count("n", len(out)),
               before=lambda: seen.append("in"), after=lambda s: seen.append("out"))
    assert mod.f(3) == [3, 3]
    assert spans.calls["f"] == 1 and spans.counts["n"] == 2
    assert seen == ["in", "out"]
    spans.restore()
    assert mod.f is original
